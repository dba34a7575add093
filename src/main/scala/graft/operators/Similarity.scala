package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables.t

/** Similarity search over an embedding column (`Array[Float]`) — the
  * beyond-reference ANN surface.
  *
  * Scale design:
  *  - cosine is a compiled Catalyst expression (one codegen'd loop,
  *    deterministic left-to-right accumulation → oracle-reproducible;
  *    the `zip_with`+`aggregate` HOF spec remains as `cosineSpec`);
  *  - brute-force top-k is the exactness baseline: broadcast the (small)
  *    query set against the big corpus, per-query window rank. The corpus
  *    side never shuffles — only (query × corpus) partial top-k rows do;
  *  - IVF is the scale path: assign every vector to its nearest centroid
  *    (broadcast centroids, map-side argmin), then probe only the query's
  *    cluster(s). At 100 TB the corpus would be written bucketed by
  *    `cluster` so a probe reads 1/n_clusters of the data; here centroids
  *    are a deterministic sample (vec_id % 40 == 0) so the DuckDB oracle
  *    can re-derive them.
  */
object Similarity {

  /** Declarative spec of the dot product: sequential left-to-right
    * double fold, the form the DuckDB oracle re-derives. Kept as the
    * cross-engine-checkable definition; the hot path below compiles the
    * same fold to a codegen'd loop (identical doubles, property-tested
    * in OperatorSpec).
    */
  def dotSpec(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def cosineSpec(a: Column, b: Column): Column =
    dotSpec(a, b) / sqrt(dotSpec(a, a)) / sqrt(dotSpec(b, b))

  /** Compiled dot / cosine ([[graft.functions.FloatDotExpr]]): one
    * whole-stage-codegen loop per row pair instead of interpreted HOF
    * lambdas — the inner loop of every ANN probe join at 100 TB.
    */
  def dot(x: Column, y: Column): Column = graft.functions.VectorExprs.dotc(x, y)

  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExprs.cosinec(a, b)

  /** Maximal-marginal-relevance diversified top-k: retrieve a top-`c`
    * relevance shortlist per query, then greedily pick `k` results
    * maximizing λ·relevance − (1−λ)·max-similarity-to-already-picked —
    * the standard RAG/retrieval diversifier that stops near-duplicate
    * passages from filling the result list.
    *
    * Scale shape: the expensive part is the shortlist (the same
    * broadcast-query brute scan as [[bruteForceTopK]], or any ANN
    * variant); the greedy loop then runs on O(queries·c) rows with a
    * c² pairwise-sim table per query — bounded by the shortlist, never
    * by the corpus. Each greedy round is one join + windowed argmax
    * over that tiny set. Determinism: greedy selection is a pure
    * function of the cosine values (identical IEEE doubles on both
    * engines — the same fold the oracle uses), with (score DESC, n_id)
    * total-order tie-breaks, so the oracle unrolls the same k rounds.
    */
  def mmrTopK(emb: DataFrame, queryIds: Column, c: Int = 16, k: Int = 5,
              lam: Double = 0.5): DataFrame = {
    val q = emb.filter(queryIds)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val all = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("rel").desc, col("n_id"))
    val cands = all.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("rel", cosine(col("q_emb"), col("n_emb")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= c)
      .select(col("q_id"), col("n_id"), col("rel"), col("n_emb"))
      .localCheckpoint() // O(queries·c)
    mmrGreedy(cands, k, lam)
  }

  /** The greedy diversification rounds over a caller-supplied candidate
    * shortlist (q_id, n_id, rel, n_emb) — shared by the brute-force and
    * the stored-ANN front ends; everything here is bounded by the
    * shortlist, never the corpus.
    */
  private def mmrGreedy(cands: DataFrame, k: Int, lam: Double): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("rel").desc, col("n_id"))
    val sims = cands.select(col("q_id"), col("n_id").as("a"), col("n_emb").as("ea"))
      .join(cands.select(col("q_id"), col("n_id").as("b"), col("n_emb").as("eb")),
        "q_id")
      .filter(col("a") =!= col("b"))
      .select(col("q_id"), col("a"), col("b"),
        cosine(col("ea"), col("eb")).as("sim"))
      .localCheckpoint() // O(queries·c²)
    val first = cands
      .withColumn("pr", row_number().over(w)).filter(col("pr") === 1)
      .select(col("q_id"), col("n_id"), lit(1L).as("pick_rank"))
    var selected = first.localCheckpoint()
    var r = 1
    while (r < k) {
      r += 1
      val remaining = cands.join(selected.select(col("q_id"), col("n_id")),
        Seq("q_id", "n_id"), "left_anti")
      val pen = remaining
        .join(selected.select(col("q_id"), col("n_id").as("b")), "q_id")
        .join(sims, Seq("q_id", "b"))
        .filter(col("a") === col("n_id"))
        .groupBy(col("q_id"), col("n_id"), col("rel"))
        .agg(max(col("sim")).as("pen"))
      val ws = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("n_id"))
      val pick = pen
        .withColumn("score", lit(lam) * col("rel") - lit(1.0 - lam) * col("pen"))
        .withColumn("pr", row_number().over(ws)).filter(col("pr") === 1)
        .select(col("q_id"), col("n_id"), lit(r.toLong).as("pick_rank"))
      selected = selected.unionAll(pick).localCheckpoint()
    }
    selected
  }

  /** MMR fed from a STORED IVF index instead of the corpus-wide brute
    * scan: the relevance shortlist comes from the partition-pruned
    * probe (same probe subtree as [[ivfTopKStored]] — the scan plans
    * only the O(queries·nProbe) probed cluster directories), then the
    * shared greedy rounds diversify it. This is the 100 TB composition:
    * index once, and every MMR query's I/O is bounded by its probe set
    * while the greedy work stays O(queries·c²).
    */
  def mmrTopKStored(spark: SparkSession, dir: String, queries: DataFrame,
                    c: Int = 16, k: Int = 5, lam: Double = 0.5,
                    nProbe: Int = 1): DataFrame = {
    val cent = spark.read.parquet(s"$dir/centroids")
    val q = ivfRanked(queries.select(col("vec_id"), col("embedding")), cent)
      .filter(col("arank") <= nProbe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("c_id").as("q_probe"))
      // Serving probes pin their tiny (O(queries·nProbe)) frames
      // through the spark.graft.probeCheckpoint choke point — default
      // lazy localCheckpoint(false) (ContextCleaner-reclaimed, fails
      // loud on executor loss), `reliable`/`persist` for pipelines
      // that must ride out executor churn: the strategy choice and its
      // trades live in [[graft.util.ProbeCheckpoint]]'s scaladoc.
      // Applies to every serving-probe pin site in this file.
      .transform(graft.util.ProbeCheckpoint.pin)
    val probes = q.select(col("q_probe")).distinct().collect().map(_.getLong(0))
    val w = Window.partitionBy(col("q_id")).orderBy(col("rel").desc, col("n_id"))
    val cands = spark.read.parquet(s"$dir/vectors")
      .where(col("cluster").isin(probes: _*)) // static partition pruning
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        col("cluster").cast("long").as("cluster"))
      .join(broadcast(q),
        col("cluster") === col("q_probe") && col("q_id") =!= col("n_id"))
      .withColumn("rel", cosine(col("q_emb"), col("n_emb")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= c)
      .select(col("q_id"), col("n_id"), col("rel"), col("n_emb"))
      .localCheckpoint() // O(queries·c)
    mmrGreedy(cands, k, lam)
  }

  /** Exact brute-force top-k cosine neighbors for a set of query ids. */
  def bruteForceTopK(emb: DataFrame, queryIds: Column, k: Int): DataFrame = {
    val q = emb.filter(queryIds)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"))
  }

  /** Attribute-filtered exact top-k: the candidate set is restricted
    * by a metadata predicate BEFORE the per-query ranking window, so
    * the result always carries k survivors when k matching candidates
    * exist — the filter-then-rank contract every production vector
    * search needs ("top-k within lang='en'"), not rank-then-filter,
    * which silently returns fewer than k rows whenever the predicate
    * is selective. The exact-scan baseline for the stored filtered
    * probes ([[ivfTopKStoredFiltered]]). */
  def bruteForceTopKFiltered(emb: DataFrame, queryIds: Column,
                             candidateFilter: Column, k: Int): DataFrame = {
    val q = emb.filter(queryIds)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = emb.filter(candidateFilter)
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"))
  }

  /** Radius (range) search: every (query, neighbor) pair with cosine ≥
    * `minCos` — the fixed-threshold twin of [[bruteForceTopK]] (vector
    * stores expose both retrieval modes). Same scale shape: the query
    * side broadcasts, the corpus never shuffles, and the output is
    * bounded by the threshold's selectivity rather than k — no window,
    * no shuffle at all. The compare is one double against an
    * exactly-representable literal over the order-pinned cosine fold,
    * so both engines agree bit-for-bit.
    */
  def rangeSearch(emb: DataFrame, queryIds: Column, minCos: Double): DataFrame = {
    val q = emb.filter(queryIds)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
      .filter(col("cos") >= minCos)
      .select(col("q_id"), col("n_id"))
  }

  /** IVF: nearest-centroid assignment + top-k within the query's nProbe
    * nearest clusters. Centroids are the deterministic
    * `vec_id % modulo == 0` subset; nProbe > 1 trades extra cluster reads
    * for recall (each vector belongs to exactly one cluster, so probe
    * candidate sets are disjoint).
    */
  // -------- shared ANN subtrees: recompute probes, index BUILD, and
  // stored PROBES all derive from these — they must stay bit-identical
  // or a persisted index disagrees with its probes. One copy each.

  /** Deterministic centroid set: the `vec_id % modulo == 0` subset. */
  private def ivfCentroids(emb: DataFrame, modulo: Int): DataFrame =
    emb.filter(col("vec_id") % modulo === 0)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))

  /** Rank each vector's centroids by cosine (tie → c_id): map-side
    * broadcast join → (vec_id, embedding, c_id, arank). PROBE-side
    * only (arank ≤ nProbe over a small query set): the row_number()
    * window shuffles and sorts the full |vecs|×|cent| candidate
    * product, which at corpus scale is the quadratic-shuffle trap —
    * corpus assignment goes through [[ivfAssign]] instead.
    */
  private def ivfRanked(vecs: DataFrame, cent: DataFrame): DataFrame = {
    val aw = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("c_id"))
    vecs.join(broadcast(cent), lit(true))
      .withColumn("ccos", cosine(col("embedding"), col("c_emb")))
      .withColumn("arank", row_number().over(aw))
      .select(col("vec_id"), col("embedding"), col("c_id"), col("arank"))
  }

  /** Nearest-centroid assignment as a MAP-SIDE argmax: the whole
    * centroid set rides along as ONE broadcast array-of-structs row,
    * and each vector picks `array_max` over (ccos, −c_id) — the same
    * (ccos desc, c_id asc) tie-break as [[ivfRanked]]'s window,
    * row-identical by construction. This is the shape that survives
    * corpus scale: the candidate product never EXISTS as rows (no
    * explode, no shuffle, no sort — the window variant shuffles and
    * sorts all N×nlist candidates; even an aggregate argmax
    * materializes them as input rows). Row count stays N end to end;
    * per-row cost is the nlist×dims flops the problem irreducibly
    * costs. → (vec_id, embedding, cluster).
    */
  private def ivfAssign(vecs: DataFrame, cent: DataFrame): DataFrame = {
    val centArr = cent.agg(
      collect_list(struct(col("c_id"), col("c_emb"))).as("cents"))
    vecs.crossJoin(broadcast(centArr))
      .withColumn("best", array_max(transform(col("cents"), c =>
        struct(cosine(col("embedding"), c.getField("c_emb")).as("ccos"),
          (-c.getField("c_id")).as("nc")))))
      .select(col("vec_id"), col("embedding"),
        (-col("best.nc")).as("cluster"))
      // empty centroid set → array_max over [] is null: drop the rows,
      // preserving the old inner-join contract (a LOUD empty index,
      // never a silent null-partition one no probe would ever read)
      .filter(col("cluster").isNotNull)
  }

  /** Corpus-drawn hyperplanes: vec_ids hpBase..hpBase+nBits-1. */
  private def lshHyperplanes(emb: DataFrame, nBits: Int, hpBase: Long): DataFrame =
    emb.filter(col("vec_id") >= hpBase && col("vec_id") < hpBase + nBits)
      .select(col("vec_id").as("h_id"), col("embedding").as("h_emb"))

  /** Sign-of-dot bit value for one (embedding, hyperplane) pairing. */
  private def lshBit(embC: Column, hEmb: Column, hId: Column, hpBase: Long): Column =
    when(dot(embC, hEmb) > 0,
      pow(lit(2.0), hId - hpBase).cast("long")).otherwise(lit(0L))

  /** Full sign signatures: (vec_id, bucket). */
  private def lshSignatures(emb: DataFrame, hp: DataFrame, hpBase: Long): DataFrame =
    emb.join(broadcast(hp), lit(true))
      .withColumn("bit", lshBit(col("embedding"), col("h_emb"), col("h_id"), hpBase))
      .groupBy(col("vec_id")).agg(sum(col("bit")).as("bucket"))

  /** All-pairs approximate kNN join: EVERY corpus vector gets its top-k
    * nearest (by cosine, tie → n_id) within its IVF cluster block — the
    * building block for SNN graphs, SemDeDup-style thresholds, and
    * link-by-neighbor pipelines. Unlike [[ivfTopK]] (a query set probing
    * the corpus), both sides here are the whole corpus; the
    * nearest-centroid blocking confines pairwise work to within-cluster
    * blocks, so the join is Σ|cluster|² instead of |corpus|² — the same
    * property that makes [[semDedup]] tractable. At scale the assigned
    * table is the persisted cluster-partitioned layout, so each block
    * joins co-located.
    */
  def knnJoin(emb: DataFrame, k: Int = 3, modulo: Int = 40): DataFrame = {
    val cent = ivfCentroids(emb, modulo)
    val assigned = ivfAssign(emb, cent)
      .localCheckpoint(false) // feeds both join sides once; ContextCleaner-reclaimed
    val b = assigned.select(col("vec_id").as("n_id"),
      col("embedding").as("n_emb"), col("cluster").as("n_cluster"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("n_id"))
    assigned
      .join(b, col("cluster") === col("n_cluster") && col("vec_id") =!= col("n_id"))
      .withColumn("cos", cosine(col("embedding"), col("n_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("cluster"), col("n_id"), col("rank"))
  }

  def ivfTopK(emb: DataFrame, queryIds: Column, k: Int, modulo: Int = 40,
              nProbe: Int = 1): DataFrame = {
    val cent = ivfCentroids(emb, modulo)
    // corpus assignment by aggregate argmax (map-side combined);
    // query ranking keeps the window — it needs arank ≤ nProbe and
    // runs over only the filtered query set
    val assigned = ivfAssign(emb, cent)
    val q = ivfRanked(emb.filter(queryIds), cent)
      .filter(col("arank") <= nProbe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("c_id").as("q_probe"))
    val scored = assigned
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"), col("cluster"))
      .join(broadcast(q), col("cluster") === col("q_probe") && col("q_id") =!= col("n_id"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("cluster"), col("n_id"), col("rank"))
  }

  /** Random-hyperplane LSH ANN: sign-of-dot signature against `nBits`
    * hyperplanes (deterministically drawn from the corpus itself:
    * vec_ids hpBase..hpBase+nBits-1, so an independent engine can
    * re-derive them), bucket = signature int, probe = same-bucket
    * candidates ranked by exact cosine. At scale the corpus is written
    * bucketed by `bucket`, so a probe touches 1/2^nBits of the data.
    */
  def lshTopK(emb: DataFrame, queryIds: Column, k: Int, nBits: Int = 8,
              hpBase: Long = 100): DataFrame = {
    val sigs = lshSignatures(emb, lshHyperplanes(emb, nBits, hpBase), hpBase)
      .localCheckpoint(false) // signature subtree feeds two join branches; ContextCleaner-reclaimed
    val bucketed = emb.join(sigs, "vec_id")
    val q = bucketed.filter(queryIds)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("bucket").as("q_bucket"))
    val scored = bucketed
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"), col("bucket"))
      .join(broadcast(q), col("bucket") === col("q_bucket") && col("q_id") =!= col("n_id"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("bucket"), col("n_id"), col("rank"))
  }

  /** Multi-probe LSH: each query probes its own bucket PLUS every
    * Hamming-1 neighbor bucket (one sign bit flipped) — recall recovery
    * for near-duplicates that straddle a hyperplane, at (nBits+1)× the
    * probe reads instead of 2^nBits. Buckets are disjoint, so candidate
    * sets never duplicate.
    */
  def lshTopKMultiProbe(emb: DataFrame, queryIds: Column, k: Int,
                        nBits: Int = 8, hpBase: Long = 100): DataFrame = {
    val sigs = lshSignatures(emb, lshHyperplanes(emb, nBits, hpBase), hpBase)
      .localCheckpoint(false) // ContextCleaner-reclaimed
    val bucketed = emb.join(sigs, "vec_id")
    // probes = own bucket + each single-bit flip
    val flips = (0 until nBits).map(i => col("bucket").bitwiseXOR(lit(1L << i)))
    val q = bucketed.filter(queryIds)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        explode(array(col("bucket") +: flips: _*)).as("q_probe"))
    val scored = bucketed
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"), col("bucket"))
      .join(broadcast(q), col("bucket") === col("q_probe") && col("q_id") =!= col("n_id"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("bucket"), col("n_id"), col("rank"))
  }

  // ------------------------------------------------------- persisted ANN
  //
  // The scale path the recompute variants above only simulate: the corpus
  // is written ONCE partitioned by IVF cluster (resp. LSH bucket), so a
  // probe reads 1/n_clusters (resp. 1/2^nBits) of the data from storage —
  // Spark's static partition pruning plans only the probed directories.
  // At 100 TB the index build is a single extra pass; every subsequent
  // query's I/O is bounded by its probe set.

  /** Build the IVF index layout: `dir/vectors` partitioned by `cluster`
    * (nearest centroid), `dir/centroids` as a small side table.
    */
  def writeIvfIndex(emb: DataFrame, dir: String, modulo: Int = 40): Unit = {
    requireFreshIndexRoot(emb.sparkSession, dir)
    val cent = ivfCentroids(emb, modulo)
    writePartitioned(ivfAssign(emb, cent), "cluster", s"$dir/vectors")
    cent.write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** Append NEW vectors to a stored IVF index as a delta generation:
    * assign against the FROZEN stored centroids (an append must not
    * move existing vectors between clusters — retraining is a
    * rebuild, not an append), write one more cluster-partitioned
    * vectors dir. The postings-index maintenance story applied to
    * ANN: O(delta) build work, probes union generations with the
    * cluster filter pushed into every scan.
    */
  def appendIvfDelta(spark: SparkSession, dir: String,
                     emb: DataFrame): Unit = {
    val next = graft.util.IndexCommit.nextDeltaId(spark, dir)
    writeIvfDelta(spark, dir, emb, s"$dir/delta_$next")
    maybeCompact(spark, dir, "vectors", compactIvfIndex)
  }

  /** Opt-in auto-compaction cap for the stored vector layouts — the
    * ANN twin of [[Retrieval.maybeCompact]] (the index's `_POLICY`
    * file first, `spark.graft.maxIndexDeltas` as session fallback,
    * neither = manual compaction only): when the live generation count
    * reaches the cap, fold with the layout's own compactor. Folded
    * generations stay on disk until an explicit vacuum, so streaming
    * epoch-replay detection is unaffected. */
  private[graft] def maybeCompact(spark: SparkSession, dir: String,
                                  commitSub: String,
                                  compactor: (SparkSession, String) => Unit): Unit = {
    val cap = graft.util.IndexCommit.effectiveMaxDeltas(spark, dir)
    if (cap <= 0) return
    val (_, minDelta) = graft.util.IndexCommit.resolve(spark, dir)
    val live = graft.util.IndexCommit.deltaDirs(spark, dir, minDelta,
        commitSub = Some(commitSub)).size +
      graft.util.IndexCommit.tombDirs(spark, dir, minDelta).size
    if (live >= cap) compactor(spark, dir)
  }

  /** Write one IVF delta generation's vectors into `genDir`, assigned
    * against the index's FROZEN centroids. `vectors/_SUCCESS` (the
    * only table) is the generation's visibility point — shared with
    * the streaming ingest sink's retry-in-place recovery
    * ([[graft.streaming.IndexIngest]]). */
  private[graft] def writeIvfDelta(spark: SparkSession, dir: String,
                                   emb: DataFrame, genDir: String): Unit = {
    val cent = spark.read.parquet(s"$dir/centroids")
    writePartitioned(
      ivfAssign(emb.select(col("vec_id"), col("embedding")), cent),
      "cluster", s"$genDir/vectors")
  }

  /** Fold IVF delta generations into one vectors dir (centroids are
    * untouched — they were frozen at append time, so the fold is a
    * pure file re-layout and every probe row is unchanged). ATOMIC:
    * the folded vectors land in a NEW `base_<n>` dir and the LATEST
    * pointer flips over them ([[graft.util.IndexCommit]]); a reader
    * concurrent with the fold completes against intact old-generation
    * files. Reclaim superseded dirs with [[vacuumVectorIndex]]. */
  def compactIvfIndex(spark: SparkSession, dir: String): Unit =
    compactVectorIndex(spark, dir, "cluster")

  /** LSH twin of [[compactIvfIndex]] — same fold over the `bucket`
    * partition layout, hyperplanes untouched (frozen at append). */
  def compactLshIndex(spark: SparkSession, dir: String): Unit =
    compactVectorIndex(spark, dir, "bucket")

  /** Shared atomic fold for the cluster- (IVF) and bucket- (LSH)
    * partitioned vector layouts. */
  private def compactVectorIndex(spark: SparkSession, dir: String,
                                 partCol: String): Unit = {
    val (_, minDelta) = graft.util.IndexCommit.resolve(spark, dir)
    val deltas = graft.util.IndexCommit.deltaDirs(spark, dir, minDelta,
      commitSub = Some("vectors"))
    val tombs = graft.util.IndexCommit.tombDirs(spark, dir, minDelta)
    if (deltas.isEmpty && tombs.isEmpty) return
    val gen = s"base_${graft.util.IndexCommit.nextBaseId(spark, dir)}"
    // fold into staging (outside vacuum's dead-scan) and promote at
    // the flip — a concurrent grace-0 vacuum can never reclaim it
    val staged = graft.util.IndexCommit.stageBase(spark, dir, gen)
    // persisted around the emptiness check so the write doesn't
    // recompute the whole generation union + tombstone fence
    val folded = allVectorGens(spark, dir, partCol, None)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // empty fold (everything deleted): a zero-row partitionBy write
      // has no schema footer — degrade to one empty schema-carrying file
      if (folded.isEmpty)
        folded.coalesce(1).write.mode("overwrite")
          .parquet(s"$staged/vectors")
      else folded.write.mode("overwrite").partitionBy(partCol)
        .parquet(s"$staged/vectors")
    } finally folded.unpersist(blocking = false)
    // deltas and tombstones share one id sequence → one watermark
    val foldedMax = (deltas ++ tombs)
      .map(_.split('_').last.toInt).max
    graft.util.IndexCommit.promoteStaged(spark, dir, gen)
    graft.util.IndexCommit.commit(spark, dir, gen, foldedMax + 1)
  }

  /** Delete generations the live pointer no longer references (IVF,
    * LSH, and PQ layouts alike); run after in-flight readers drain. */
  def vacuumVectorIndex(spark: SparkSession, dir: String): Unit =
    graft.util.IndexCommit.vacuum(spark, dir, Seq("vectors", "codes"))

  /** Base + delta vector generations; `probes` (when given) is applied
    * PER GENERATION on the raw partition column, so static pruning
    * plans only the probed cluster directories of every generation —
    * the filter is never pushed through the cast or the union.
    */
  private def allIvfVectors(spark: SparkSession, dir: String,
                            probes: Option[Seq[Long]]): DataFrame =
    allVectorGens(spark, dir, "cluster", probes)

  /** LATEST-resolved base + live delta vector generations under the
    * `partCol` (cluster/bucket) layout, with [[deleteVectors]]
    * tombstones fenced (sequence-aware, so a vector re-appended after
    * its deletion serves its NEW embedding — the re-embed/upsert
    * pattern). Delete-free indexes skip the fence entirely. */
  private def allVectorGens(spark: SparkSession, dir: String,
                            partCol: String,
                            probes: Option[Seq[Long]]): DataFrame =
    allGenTables(spark, dir, "vectors", Some(partCol),
      Seq("vec_id", "embedding"), "vec_id", probes)

  /** ONE copy of the generation-union + tombstone-fence machinery for
    * every partition-pruned stored layout (IVF/LSH `vectors`, IVF-PQ
    * `codes`): base + live deltas, `probes` applied PER GENERATION on
    * the raw partition column (so static pruning plans only the
    * probed dirs of every generation — never pushed through the cast
    * or the union), partition column pinned LONG (inference narrows
    * it to INT on read-back; the recompute twins return LONG), and
    * the sequence-aware fence (a row serves iff no tombstone for its
    * id is newer than its generation). Column order restored
    * explicitly after the fence join — the join key floats first, and
    * a compaction persisting that order would misalign later
    * positional unions (the RetrievalIndexProps lesson). */
  private def allGenTables(spark: SparkSession, dir: String, sub: String,
                           partCol: Option[String], dataCols: Seq[String],
                           idCol: String,
                           probes: Option[Seq[Long]]): DataFrame = {
    val (baseDir, minDelta) = graft.util.IndexCommit.resolve(spark, dir)
    val tombDirs = graft.util.IndexCommit.tombDirs(spark, dir, minDelta)
    val unioned = ((s"$baseDir/$sub", minDelta - 1) +:
        graft.util.IndexCommit
          .deltaDirs(spark, dir, minDelta, commitSub = Some(sub))
          .map(d => (s"$d/$sub", d.split('/').last.stripPrefix("delta_").toInt)))
      .map { case (v, seq) =>
        val raw = spark.read.parquet(v)
        val pruned = (partCol, probes) match {
          case (Some(pc), Some(p)) => raw.where(col(pc).isin(p: _*))
          case _ => raw
        }
        val typed = pruned.select(dataCols.map(col) ++
          partCol.map(pc => col(pc).cast("long").as(pc)): _*)
        if (tombDirs.isEmpty) typed
        else typed.withColumn("_gseq", lit(seq))
      }
      .reduce(_ unionAll _)
    if (tombDirs.isEmpty) unioned
    else {
      val mx = tombDirs.map { d =>
          val seq = d.split('/').last.stripPrefix("tomb_").toInt
          spark.read.parquet(s"$d/docs")
            .select(col("vec_id").as(idCol), lit(seq).as("_tseq"))
        }.reduce(_ unionAll _)
        .groupBy(col(idCol)).agg(max(col("_tseq")).as("_tmax"))
      // broadcast: tombstones are delta-sized by the compaction
      // contract; the probe's partition filters stay pushed below
      val cols = unioned.columns.filterNot(_ == "_gseq").map(col)
      unioned.join(broadcast(mx), Seq(idCol), "left")
        .filter(col("_tmax").isNull || col("_tmax") < col("_gseq"))
        .select(cols: _*)
    }
  }

  /** Delete vectors from a stored IVF/LSH index as a TOMBSTONE
    * generation — the O(delta) removal half of ANN maintenance
    * (takedowns, re-embeds). Nothing partitioned is rewritten: probes
    * fence tombstoned ids at serve time; a later append of the same
    * vec_id (against the frozen centroids/hyperplanes) serves the new
    * embedding. [[compactIvfIndex]]/[[compactLshIndex]] fold the fence
    * away. `_COMMIT` is written last — a crashed delete fences
    * nothing. */
  def deleteVectors(spark: SparkSession, dir: String,
                    vecIds: DataFrame): Unit = {
    val next = graft.util.IndexCommit.nextDeltaId(spark, dir)
    val d = s"$dir/tomb_$next"
    vecIds.select(col("vec_id")).distinct()
      .write.mode("overwrite").parquet(s"$d/docs")
    graft.util.IndexCommit.fs(spark, dir)
      .create(new org.apache.hadoop.fs.Path(s"$d/_COMMIT"), true).close()
  }

  /** Probe a stored IVF index: rank centroids for each query vector,
    * read ONLY the probed cluster partitions (of every generation),
    * score, top-k. The driver collects just the distinct probe
    * cluster ids (O(queries × nProbe), never data-sized) so the
    * partition filter is static.
    */
  def ivfTopKStored(spark: SparkSession, dir: String, queries: DataFrame,
                    k: Int, nProbe: Int = 1): DataFrame =
    ivfTopKStoredImpl(spark, dir, queries, k, nProbe, None)

  /** Attribute-filtered stored IVF probe: `pred` over the `meta`
    * table (vec_id + attribute columns — the metadata store every
    * production corpus keeps beside its vectors) restricts candidates
    * BEFORE the per-query top-k window, so k survivors are guaranteed
    * whenever the probed clusters hold k matching vectors; applied
    * after the window it would silently return <k rows under any
    * selective predicate. The cluster partition filter stays pushed
    * into every generation's scan (the allow-list is an extra
    * semi-join ON TOP of the pruned candidates, never a wider read):
    * probe cost remains nProbe/nlist of the codes, and the semi-join
    * is bounded by the pruned candidate set, not the corpus. */
  def ivfTopKStoredFiltered(spark: SparkSession, dir: String,
                            queries: DataFrame, k: Int, meta: DataFrame,
                            pred: Column, nProbe: Int = 1): DataFrame =
    ivfTopKStoredImpl(spark, dir, queries, k, nProbe,
      Some(meta.filter(pred).select(col("vec_id").as("n_id"))))

  private def ivfTopKStoredImpl(spark: SparkSession, dir: String,
                                queries: DataFrame, k: Int, nProbe: Int,
                                allowed: Option[DataFrame]): DataFrame = {
    val cent = spark.read.parquet(s"$dir/centroids")
    val q = ivfRanked(queries.select(col("vec_id"), col("embedding")), cent)
      .filter(col("arank") <= nProbe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("c_id").as("q_probe"))
      .transform(graft.util.ProbeCheckpoint.pin) // serving-probe pin (spark.graft.probeCheckpoint)
    val probes = q.select(col("q_probe")).distinct().collect().map(_.getLong(0))
    val cands = allIvfVectors(spark, dir, Some(probes.toSeq))
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        col("cluster"))
    // allow-list semi-join BEFORE scoring: prune first (cluster
    // partitions), filter second, rank last
    val filtered = allowed.fold(cands)(a =>
      cands.join(a, Seq("n_id"), "left_semi"))
    val scored = filtered
      .join(broadcast(q), col("cluster") === col("q_probe") && col("q_id") =!= col("n_id"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("cluster"), col("n_id"), col("rank"))
  }

  /** Build the LSH index layout: `dir/vectors` partitioned by the
    * random-hyperplane sign bucket (hyperplanes = corpus vectors
    * hpBase..hpBase+nBits-1, re-derivable by any engine).
    */
  def writeLshIndex(emb: DataFrame, dir: String, nBits: Int = 8,
                    hpBase: Long = 100): Unit = {
    requireFreshIndexRoot(emb.sparkSession, dir)
    val hp = lshHyperplanes(emb, nBits, hpBase)
    val sigs = lshSignatures(emb, hp, hpBase)
    writePartitioned(emb.join(sigs, "vec_id")
        .select(col("vec_id"), col("embedding"), col("bucket")),
      "bucket", s"$dir/vectors")
    hp.write.mode("overwrite").parquet(s"$dir/hyperplanes")
  }

  /** Probe a stored LSH index: recompute each query's bucket from the
    * stored hyperplanes, read only those bucket partitions, score, top-k.
    */
  def lshTopKStored(spark: SparkSession, dir: String, queries: DataFrame,
                    k: Int, hpBase: Long = 100): DataFrame = {
    val hp = spark.read.parquet(s"$dir/hyperplanes")
    val q = queries.select(col("vec_id"), col("embedding"))
      .join(broadcast(hp), lit(true))
      .withColumn("bit", lshBit(col("embedding"), col("h_emb"), col("h_id"), hpBase))
      .groupBy(col("vec_id"))
      // embedding is identical across a vec_id's hp rows; first() is exact
      .agg(sum(col("bit")).as("q_bucket"), first(col("embedding")).as("q_emb"))
      .select(col("vec_id").as("q_id"), col("q_emb"), col("q_bucket"))
      .transform(graft.util.ProbeCheckpoint.pin) // serving-probe pin (spark.graft.probeCheckpoint)
    val probes = q.select(col("q_bucket")).distinct().collect().map(_.getLong(0))
    val scored = allVectorGens(spark, dir, "bucket", Some(probes.toSeq))
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        col("bucket"))
      .join(broadcast(q), col("bucket") === col("q_bucket") && col("q_id") =!= col("n_id"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("bucket"), col("n_id"), col("rank"))
  }

  /** LSH twin of [[appendIvfDelta]]: new vectors hashed with the
    * FROZEN stored hyperplanes into a delta generation; probes union
    * generations with per-generation bucket pruning. Deterministic
    * hyperplanes make delta ≡ monolithic exact (no retraining drift
    * at all — the hyperplanes never depend on the appended data). */
  def appendLshDelta(spark: SparkSession, dir: String, emb: DataFrame,
                     hpBase: Long = 100): Unit = {
    val hp = spark.read.parquet(s"$dir/hyperplanes")
    val next = graft.util.IndexCommit.nextDeltaId(spark, dir)
    val sigs = lshSignatures(emb, hp, hpBase)
    val genDir = s"$dir/delta_$next"
    graft.util.IndexCommit.at("append:pre-commit", genDir)
    writePartitioned(emb.join(sigs, "vec_id")
        .select(col("vec_id"), col("embedding"), col("bucket")),
      "bucket", s"$genDir/vectors")
    graft.util.IndexCommit.at("append:post-commit", genDir)
    maybeCompact(spark, dir, "vectors", compactLshIndex)
  }

  /** Build-once ANN index fixture for an sf dir (mirrors
    * GraphArQueries.fixture): IVF + LSH layouts under /tmp/graft_ann.
    */
  def indexDir(spark: SparkSession, sfDir: String): String = synchronized {
    // full-path hash in the fixture key: basename-only would reuse a
    // DIFFERENT corpus's index when two data dirs share a basename
    val canonical = new java.io.File(sfDir).getCanonicalPath
    val name = new java.io.File(sfDir).getName + "_" +
      Integer.toHexString(canonical.hashCode)
    val base = s"/tmp/graft_ann/$name"
    val marker = new org.apache.hadoop.fs.Path(s"$base/_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(base)))
        fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val emb = t(spark, sfDir, "embeddings")
      writeIvfIndex(emb, s"$base/ivf")
      writeLshIndex(emb, s"$base/lsh")
      fs.create(marker, true).close()
    }
    // pq landed later than ivf/lsh: its own marker lets an existing
    // fixture gain the pq layout without a full rebuild
    val pqMarker = new org.apache.hadoop.fs.Path(s"$base/pq/_INDEX_SUCCESS")
    if (!fs.exists(pqMarker)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$base/pq")))
        fs.delete(new org.apache.hadoop.fs.Path(s"$base/pq"), true)
      writePqIndex(t(spark, sfDir, "embeddings"), s"$base/pq")
      fs.create(pqMarker, true).close()
    }
    // the delete/restore lifecycle fixture: full IVF build, every
    // vec_id % 9 == 0 tombstoned, the % 18 == 0 subset re-appended
    // (identical embeddings, frozen centroids) — the sequence-aware
    // fence must serve survivors ∪ restored, nothing twice
    val tombMarker = new org.apache.hadoop.fs.Path(s"$base/ivf_tomb/_INDEX_SUCCESS")
    if (!fs.exists(tombMarker)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$base/ivf_tomb")))
        fs.delete(new org.apache.hadoop.fs.Path(s"$base/ivf_tomb"), true)
      val emb = t(spark, sfDir, "embeddings")
      writeIvfIndex(emb, s"$base/ivf_tomb")
      deleteVectors(spark, s"$base/ivf_tomb",
        emb.filter(col("vec_id") % 9 === 0).select(col("vec_id")))
      appendIvfDelta(spark, s"$base/ivf_tomb",
        emb.filter(col("vec_id") % 18 === 0))
      fs.create(tombMarker, true).close()
    }
    // the full PQ maintenance lifecycle on one fixture: split build
    // (evens at build — every % 40 == 0 codebook source is even, so
    // the frozen codebook equals the full corpus's), odds appended
    // against it, % 9 == 0 tombstoned, % 18 == 0 restored
    val pqTombMarker = new org.apache.hadoop.fs.Path(s"$base/pq_tomb/_INDEX_SUCCESS")
    if (!fs.exists(pqTombMarker)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$base/pq_tomb")))
        fs.delete(new org.apache.hadoop.fs.Path(s"$base/pq_tomb"), true)
      val emb = t(spark, sfDir, "embeddings")
      writePqIndex(emb.filter(col("vec_id") % 2 === 0), s"$base/pq_tomb")
      appendPqDelta(spark, s"$base/pq_tomb",
        emb.filter(col("vec_id") % 2 =!= 0))
      deleteVectors(spark, s"$base/pq_tomb",
        emb.filter(col("vec_id") % 9 === 0).select(col("vec_id")))
      appendPqDelta(spark, s"$base/pq_tomb",
        emb.filter(col("vec_id") % 18 === 0))
      fs.create(pqTombMarker, true).close()
    }
    // IVF-PQ: clean build, plus the full maintenance lifecycle on a
    // second layout (split build evens — every % 40 == 0 centroid and
    // codebook source is even, so the frozen sidecars equal the full
    // corpus's — odds appended, % 9 == 0 tombstoned, % 18 == 0
    // restored). The lifecycle index carries base + deltas + a
    // tombstone, so its probe exercises per-generation cluster
    // pruning AND the sequence-aware fence in one oracle row.
    val ivfPqMarker = new org.apache.hadoop.fs.Path(s"$base/ivfpq/_INDEX_SUCCESS")
    if (!fs.exists(ivfPqMarker)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$base/ivfpq")))
        fs.delete(new org.apache.hadoop.fs.Path(s"$base/ivfpq"), true)
      writeIvfPqIndex(t(spark, sfDir, "embeddings"), s"$base/ivfpq")
      fs.create(ivfPqMarker, true).close()
    }
    val ivfPqTrainedMarker = new org.apache.hadoop.fs.Path(
      s"$base/ivfpq_trained/_INDEX_SUCCESS")
    if (!fs.exists(ivfPqTrainedMarker)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$base/ivfpq_trained")))
        fs.delete(new org.apache.hadoop.fs.Path(s"$base/ivfpq_trained"), true)
      writeIvfPqTrainedIndex(t(spark, sfDir, "embeddings"),
        s"$base/ivfpq_trained")
      fs.create(ivfPqTrainedMarker, true).close()
    }
    val ivfPqrMarker = new org.apache.hadoop.fs.Path(s"$base/ivfpqr/_INDEX_SUCCESS")
    if (!fs.exists(ivfPqrMarker)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$base/ivfpqr")))
        fs.delete(new org.apache.hadoop.fs.Path(s"$base/ivfpqr"), true)
      writeIvfPqResidualIndex(t(spark, sfDir, "embeddings"), s"$base/ivfpqr")
      fs.create(ivfPqrMarker, true).close()
    }
    val ivfPqTombMarker = new org.apache.hadoop.fs.Path(s"$base/ivfpq_tomb/_INDEX_SUCCESS")
    if (!fs.exists(ivfPqTombMarker)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$base/ivfpq_tomb")))
        fs.delete(new org.apache.hadoop.fs.Path(s"$base/ivfpq_tomb"), true)
      val emb = t(spark, sfDir, "embeddings")
      writeIvfPqIndex(emb.filter(col("vec_id") % 2 === 0), s"$base/ivfpq_tomb")
      appendIvfPqDelta(spark, s"$base/ivfpq_tomb",
        emb.filter(col("vec_id") % 2 =!= 0))
      deleteVectors(spark, s"$base/ivfpq_tomb",
        emb.filter(col("vec_id") % 9 === 0).select(col("vec_id")))
      appendIvfPqDelta(spark, s"$base/ivfpq_tomb",
        emb.filter(col("vec_id") % 18 === 0))
      fs.create(ivfPqTombMarker, true).close()
    }
    base
  }

  /** Product-quantization ANN (asymmetric distance): split the `dims`-d
    * embedding into `m` subspaces; per subspace, code every vector as
    * its max-inner-product sub-centroid (codebook = the deterministic
    * `vec_id % modulo == 0` subset, sliced). A query scores a candidate
    * as Σ_m ⟨q_sub_m, centroid(code_m)⟩ — m codebook lookups instead of
    * a full-vector scan.
    *
    * Scale story: codes are m bytes per vector (vs dims·4) — the corpus
    * representation that fits a billion vectors in executor memory; the
    * query-side lookup table is (m × K) floats, broadcast. The partial
    * dots are summed by an ORDER-PINNED fold (sorted by subspace, then
    * sequential aggregate) so scores are bit-identical cross-engine —
    * a plain SUM would be accumulation-order-dependent.
    */
  private def pqSub(v: Column, mc: Column, subDim: Int): Column =
    slice(v, mc * subDim + 1, lit(subDim))

  /** Per-subspace codebook: (m, c_id, c_sub). */
  private def pqCodebook(emb: DataFrame, m: Int, dims: Int,
                         modulo: Int): DataFrame = {
    requirePqDims(m, dims)
    ivfCentroids(emb, modulo)
      .withColumn("m", explode(sequence(lit(0), lit(m - 1))))
      .select(col("m"), col("c_id"),
        pqSub(col("c_emb"), col("m"), dims / m).as("c_sub"))
  }

  /** Subspaces must tile the vector exactly — a non-dividing m would
    * silently drop the trailing dims from coding AND scoring.
    */
  private def requirePqDims(m: Int, dims: Int): Unit =
    require(m > 0 && dims % m == 0,
      s"PQ subspace count m=$m must divide dims=$dims")

  /** PQ codes: (n_id, m, c_id) — each vector's max-inner-product
    * sub-centroid per subspace. MAP-SIDE argmax, the [[ivfAssign]]
    * shape: the per-subspace codebook rides along as a broadcast
    * array-of-structs (one row per m), and each (vector, subspace)
    * row picks `array_max` over (pdot, −c_id) — the (pdot desc,
    * c_id asc) tie-break a ranked window would apply, row-identical.
    * The N×m×K candidate product never exists as rows; the encode's
    * row count is its OUTPUT size N×m, with the K dots folded per row
    * — the difference between an encode that scales with the corpus
    * and one that shuffles corpus × codebook.
    */
  private def pqCodes(emb: DataFrame, codebook: DataFrame, m: Int,
                      dims: Int): DataFrame = {
    val cbArr = codebook.groupBy(col("m"))
      .agg(collect_list(struct(col("c_id"), col("c_sub"))).as("subs"))
    emb.select(col("vec_id"), col("embedding"))
      .withColumn("m", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("v_sub", pqSub(col("embedding"), col("m"), dims / m))
      .join(broadcast(cbArr), "m")
      .withColumn("best", array_max(transform(col("subs"), s =>
        struct(dot(col("v_sub"), s.getField("c_sub")).as("pdot"),
          (-s.getField("c_id")).as("nc")))))
      .select(col("vec_id").as("n_id"), col("m"),
        (-col("best.nc")).as("c_id"))
  }

  /** Query lookup table: (q_id, m, c_id, pdot). */
  private def pqLut(queries: DataFrame, codebook: DataFrame, m: Int,
                    dims: Int): DataFrame =
    queries
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .withColumn("m", explode(sequence(lit(0), lit(m - 1))))
      .join(broadcast(codebook), "m")
      .withColumn("pdot",
        dot(pqSub(col("q_emb"), col("m"), dims / m), col("c_sub")))
      .select(col("q_id"), col("m"), col("c_id"), col("pdot"))

  /** ADC scoring + top-k over a codes table (recomputed or stored). */
  private def pqScored(codes: DataFrame, lut: DataFrame, k: Int): DataFrame = {
    val scored = codes.join(broadcast(lut), Seq("m", "c_id"))
      .filter(col("q_id") =!= col("n_id"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(sort_array(collect_list(struct(col("m"), col("pdot")))).as("parts"))
      .withColumn("score", aggregate(col("parts"), lit(0.0),
        (acc, x) => acc + x.getField("pdot")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"))
  }

  def pqTopK(emb: DataFrame, queryIds: Column, k: Int, m: Int = 8,
             dims: Int = 64, modulo: Int = 40): DataFrame = {
    val cb = pqCodebook(emb, m, dims, modulo)
    pqScored(pqCodes(emb, cb, m, dims),
      pqLut(emb.filter(queryIds), cb, m, dims), k)
  }

  /** Build the PQ index layout: the m-byte-per-vector codes table plus
    * the tiny codebook — at a billion vectors this is the ~8 GB table
    * that replaces a 256 GB float corpus for first-pass retrieval.
    */
  def writePqIndex(emb: DataFrame, dir: String, m: Int = 8,
                   dims: Int = 64, modulo: Int = 40): Unit = {
    requireFreshIndexRoot(emb.sparkSession, dir)
    val cb = pqCodebook(emb, m, dims, modulo)
    cb.write.mode("overwrite").parquet(s"$dir/codebook")
    pqCodes(emb, cb, m, dims).write.mode("overwrite").parquet(s"$dir/codes")
  }

  /** Probe a stored PQ index: the full-precision corpus is never read —
    * only the stored codes + codebook and the query vectors. Delta
    * generations and tombstones (if any) serve transparently.
    */
  def pqTopKStored(spark: SparkSession, dir: String, queries: DataFrame,
                   k: Int, m: Int = 8, dims: Int = 64): DataFrame = {
    requirePqDims(m, dims)
    val cb = spark.read.parquet(s"$dir/codebook")
    pqScored(allPqCodes(spark, dir), pqLut(queries, cb, m, dims), k)
  }

  /** Append NEW vectors to a stored PQ index as a delta generation:
    * encode against the FROZEN stored codebook (re-training the
    * codebook is a rebuild, exactly the IVF/LSH centroid/hyperplane
    * contract) — O(delta) encode work, and delta ≡ monolithic because
    * the codebook never depends on the appended data. */
  def appendPqDelta(spark: SparkSession, dir: String, emb: DataFrame,
                    m: Int = 8, dims: Int = 64): Unit = {
    requirePqDims(m, dims)
    val cb = spark.read.parquet(s"$dir/codebook")
    val next = graft.util.IndexCommit.nextDeltaId(spark, dir)
    pqCodes(emb.select(col("vec_id"), col("embedding")), cb, m, dims)
      .write.mode("overwrite").parquet(s"$dir/delta_$next/codes")
    maybeCompact(spark, dir, "codes", compactPqIndex)
  }

  /** Fold PQ code generations (and the tombstone fence) into one base
    * — codebook untouched; same atomic pointer-flip commit as the
    * IVF/LSH folds. Reclaim with [[vacuumVectorIndex]]. */
  def compactPqIndex(spark: SparkSession, dir: String): Unit = {
    val (_, minDelta) = graft.util.IndexCommit.resolve(spark, dir)
    val deltas = graft.util.IndexCommit.deltaDirs(spark, dir, minDelta,
      commitSub = Some("codes"))
    val tombs = graft.util.IndexCommit.tombDirs(spark, dir, minDelta)
    if (deltas.isEmpty && tombs.isEmpty) return
    val gen = s"base_${graft.util.IndexCommit.nextBaseId(spark, dir)}"
    val staged = graft.util.IndexCommit.stageBase(spark, dir, gen)
    allPqCodes(spark, dir)
      .write.mode("overwrite").parquet(s"$staged/codes")
    val foldedMax = (deltas ++ tombs).map(_.split('_').last.toInt).max
    graft.util.IndexCommit.promoteStaged(spark, dir, gen)
    graft.util.IndexCommit.commit(spark, dir, gen, foldedMax + 1)
  }

  /** LATEST-resolved base + live delta code generations, tombstones
    * ([[deleteVectors]]) fenced sequence-aware — the [[allGenTables]]
    * contract on the UNPARTITIONED (n_id, m, c_id) codes layout (no
    * partition column, so no probe pruning — plain PQ scans all codes
    * by design; IVF-PQ is the pruned variant). */
  private def allPqCodes(spark: SparkSession, dir: String): DataFrame =
    allGenTables(spark, dir, "codes", None,
      Seq("n_id", "m", "c_id"), "n_id", None)

  /** Retrieve-then-refine (the standard IVF-PQ serving shape): the ADC
    * shortlist picks the top-`c` candidates per query from the m-byte
    * codes, then ONLY those c rows are re-scored against their
    * full-precision vectors with exact cosine and re-ranked to top-k.
    * Refinement cost is bounded by c per query — never the corpus: the
    * candidate→vector join carries O(queries × c) ids into the corpus
    * table (at scale: a point-lookup-friendly join against the
    * vec_id-partitioned embedding store), and the query side broadcasts.
    * Recall improves over raw ADC exactly where quantization error
    * reorders near-ties inside the shortlist.
    */
  def pqTopKRerank(emb: DataFrame, queryIds: Column, k: Int, c: Int = 10,
                   m: Int = 8, dims: Int = 64, modulo: Int = 40): DataFrame = {
    require(c >= k, s"shortlist size c=$c must be >= k=$k")
    val cb = pqCodebook(emb, m, dims, modulo)
    val q = emb.filter(queryIds)
    val shortlist = pqScored(pqCodes(emb, cb, m, dims), pqLut(q, cb, m, dims), c)
      .select(col("q_id"), col("n_id"))
    val n = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val qv = q.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    // broadcast the O(queries×c) shortlist: without the hint the
    // window output has no size stats and Catalyst would SHUFFLE the
    // whole float corpus into a sort-merge join
    broadcast(shortlist).join(n, "n_id").join(broadcast(qv), "q_id")
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"))
  }

  // ───────────── IVF-PQ: cluster-pruned ADC (the FAISS IVFADC shape) ──

  /** Cluster-tagged PQ codes: each vector's IVF cluster (nearest
    * deterministic centroid — the assignment [[writeIvfIndex]] uses)
    * joined onto its m sub-codes → (n_id, m, c_id, cluster). The row a
    * probed IVF-PQ scan reads: m+1 small ints per vector, never the
    * float embedding.
    */
  private def ivfPqCodesOf(emb: DataFrame, cent: DataFrame, cb: DataFrame,
                           m: Int, dims: Int): DataFrame = {
    val assigned = ivfAssign(emb.select(col("vec_id"), col("embedding")), cent)
      .select(col("vec_id"), col("cluster"))
    pqCodes(emb, cb, m, dims)
      .join(assigned, col("vec_id") === col("n_id"))
      .select(col("n_id"), col("m"), col("c_id"), col("cluster"))
  }

  /** ADC scoring over cluster-pruned codes: candidates join their
    * queries on the probe list (a query scores ONLY its own probed
    * clusters, never the union of everyone's), the broadcast LUT
    * replaces each sub-code with its query partial dot, and the
    * partials fold ORDER-PINNED (sorted by subspace) exactly like
    * [[pqScored]] — scores bit-identical cross-engine.
    */
  private def ivfPqScored(codes: DataFrame, probe: DataFrame,
                          lut: DataFrame, k: Int): DataFrame = {
    val scored = codes
      .join(broadcast(probe),
        col("cluster") === col("q_probe") && col("q_id") =!= col("n_id"))
      .join(broadcast(lut), Seq("q_id", "m", "c_id"))
      .groupBy(col("q_id"), col("cluster"), col("n_id"))
      .agg(sort_array(collect_list(struct(col("m"), col("pdot")))).as("parts"))
      .withColumn("score", aggregate(col("parts"), lit(0.0),
        (acc, x) => acc + x.getField("pdot")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("cluster"), col("n_id"), col("rank"))
  }

  /** IVF-PQ top-k (index built inline): coarse nearest-centroid
    * clustering prunes the candidate set to the query's nProbe
    * clusters, and the surviving candidates are scored by PQ
    * asymmetric distance — never their full vectors. The composition
    * that serves billion-vector corpora: IVF bounds WHICH codes are
    * read, PQ bounds what each code COSTS (m bytes + m LUT lookups).
    */
  def ivfPqTopK(emb: DataFrame, queryIds: Column, k: Int, nProbe: Int = 1,
                m: Int = 8, dims: Int = 64, modulo: Int = 40): DataFrame = {
    requirePqDims(m, dims)
    val cent = ivfCentroids(emb, modulo)
    val cb = pqCodebook(emb, m, dims, modulo)
    val q = emb.filter(queryIds).select(col("vec_id"), col("embedding"))
    val probe = ivfRanked(q, cent).filter(col("arank") <= nProbe)
      .select(col("vec_id").as("q_id"), col("c_id").as("q_probe"))
    ivfPqScored(ivfPqCodesOf(emb, cent, cb, m, dims), probe,
      pqLut(q, cb, m, dims), k)
  }

  /** Partition-column write shared by EVERY vector-layout table,
    * degrading to one empty schema-carrying file when the frame is
    * empty: a zero-row `partitionBy` write emits no parquet footer,
    * and — because the generation's `_SUCCESS` still lands — would
    * make the generation VISIBLE yet unreadable, bricking every later
    * probe of the whole index (the empty-micro-batch ingest path; the
    * trap Retrieval.writeBucketed documents for the text layout).
    * Persisted around the emptiness check: `isEmpty` executes the
    * producing pipeline, and without the cache the write would
    * recompute it from scratch — doubling every build, delta append,
    * and ingest micro-batch. */
  private[graft] def writePartitioned(df: DataFrame, partCol: String,
                                      dir: String): Unit = {
    val d = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (d.isEmpty) d.coalesce(1).write.mode("overwrite").parquet(dir)
      else d.repartition(col(partCol))
        .write.mode("overwrite").partitionBy(partCol).parquet(dir)
    } finally d.unpersist(blocking = false)
  }

  private def writeClusteredCodes(codes: DataFrame, dir: String): Unit =
    writePartitioned(codes, "cluster", dir)

  /** Guard for the vector-layout builders: their frozen sidecars
    * (centroids / codebook / hyperplanes) live UNVERSIONED at the
    * index root, so an in-place rebuild cannot be made atomic the way
    * the text index's is — the live pointer would keep serving the
    * stale corpus while a later vacuum deleted the fresh root-level
    * build as legacy debris. Refuse loudly instead.
    *
    * Versioned state is EITHER a LATEST pointer or any delta/tombstone
    * generation: an index that received appends or deletes but never
    * compacted (the default — compaction is opt-in) has generations
    * and no pointer, and an in-place rebuild would overwrite the
    * frozen sidecars while the stale generations stay in the probe
    * union — IVF-PQ codes from an old codebook decoded against the new
    * one are garbage. Same check [[graft.operators.Retrieval
    * .writePostingsIndex]] runs for the text layout. */
  private def requireFreshIndexRoot(spark: SparkSession, dir: String): Unit = {
    val versioned =
      graft.util.IndexCommit.fs(spark, dir)
        .exists(new org.apache.hadoop.fs.Path(s"$dir/LATEST")) ||
      graft.util.IndexCommit.deltaDirs(spark, dir).nonEmpty ||
      graft.util.IndexCommit.tombDirs(spark, dir).nonEmpty
    require(!versioned,
      s"$dir already holds a versioned index (pointer, delta, or " +
        "tombstone generations): rebuild into a fresh directory (or " +
        "delete this one first) — an in-place rebuild would overwrite " +
        "the frozen sidecars while stale generations kept serving the " +
        "OLD corpus's codes against them")
  }

  /** Build the IVF-PQ index layout: `codes` PARTITIONED BY the IVF
    * cluster (so a probe's cluster list is a static partition filter)
    * holding only (n_id, m, c_id) — m bytes of payload per vector —
    * plus the two tiny sidecars (centroids, per-subspace codebook).
    * At a billion vectors this is the layout where a probe reads
    * nProbe/nlist of an ~8 GB codes table instead of any part of a
    * 256 GB float corpus.
    */
  def writeIvfPqIndex(emb: DataFrame, dir: String, modulo: Int = 40,
                      m: Int = 8, dims: Int = 64): Unit = {
    requirePqDims(m, dims)
    requireFreshIndexRoot(emb.sparkSession, dir)
    val cent = ivfCentroids(emb, modulo)
    val cb = pqCodebook(emb, m, dims, modulo)
    cent.write.mode("overwrite").parquet(s"$dir/centroids")
    cb.write.mode("overwrite").parquet(s"$dir/codebook")
    writeClusteredCodes(ivfPqCodesOf(emb, cent, cb, m, dims), s"$dir/codes")
  }

  /** Append NEW vectors to a stored IVF-PQ index as a delta
    * generation: assigned against the FROZEN centroids and coded
    * against the FROZEN codebook (retraining either is a rebuild —
    * the IVF/LSH/PQ maintenance contract, composed). O(delta) work;
    * probes union generations with the cluster filter pushed into
    * every generation's scan. */
  def appendIvfPqDelta(spark: SparkSession, dir: String, emb: DataFrame,
                       m: Int = 8, dims: Int = 64): Unit = {
    val next = graft.util.IndexCommit.nextDeltaId(spark, dir)
    writeIvfPqDelta(spark, dir, emb, s"$dir/delta_$next", m, dims)
    maybeCompact(spark, dir, "codes", compactIvfPqIndex)
  }

  /** Write one IVF-PQ delta generation's codes into `genDir`, assigned
    * and coded against the index's FROZEN sidecars. `codes/_SUCCESS`
    * (the only table) is the generation's visibility point — shared
    * with the streaming ingest sink's retry-in-place recovery
    * ([[graft.streaming.IndexIngest]]). */
  private[graft] def writeIvfPqDelta(spark: SparkSession, dir: String,
                                     emb: DataFrame, genDir: String,
                                     m: Int = 8, dims: Int = 64): Unit = {
    requirePqDims(m, dims)
    val cent = spark.read.parquet(s"$dir/centroids")
    val cb = spark.read.parquet(s"$dir/codebook")
    // codes/_SUCCESS is the generation's visibility point: a crash at
    // pre-commit leaves an INVISIBLE generation (serving unchanged,
    // vacuum-safe, retry-in-place) — MaintenanceKillPointSpec drives
    // both the batch verb and the streaming sink through these points
    graft.util.IndexCommit.at("append:pre-commit", genDir)
    writeClusteredCodes(
      ivfPqCodesOf(emb.select(col("vec_id"), col("embedding")), cent, cb, m, dims),
      s"$genDir/codes")
    graft.util.IndexCommit.at("append:post-commit", genDir)
  }

  /** Fold IVF-PQ code generations (and the tombstone fence) into one
    * cluster-partitioned base — centroids and codebook untouched
    * (frozen at append). Same atomic `base_<n>` + LATEST-flip commit
    * as every other layout; reclaim with [[vacuumVectorIndex]]. */
  def compactIvfPqIndex(spark: SparkSession, dir: String): Unit = {
    val (_, minDelta) = graft.util.IndexCommit.resolve(spark, dir)
    val deltas = graft.util.IndexCommit.deltaDirs(spark, dir, minDelta,
      commitSub = Some("codes"))
    val tombs = graft.util.IndexCommit.tombDirs(spark, dir, minDelta)
    if (deltas.isEmpty && tombs.isEmpty) return
    val gen = s"base_${graft.util.IndexCommit.nextBaseId(spark, dir)}"
    val staged = graft.util.IndexCommit.stageBase(spark, dir, gen)
    writeClusteredCodes(allIvfPqCodes(spark, dir, None), s"$staged/codes")
    val foldedMax = (deltas ++ tombs).map(_.split('_').last.toInt).max
    graft.util.IndexCommit.promoteStaged(spark, dir, gen)
    graft.util.IndexCommit.commit(spark, dir, gen, foldedMax + 1)
  }

  /** LATEST-resolved base + live delta IVF-PQ code generations;
    * `probes` (when given) prunes each generation's scan on the raw
    * `cluster` partition column BEFORE the union, so static partition
    * pruning plans only the probed cluster dirs of EVERY generation.
    * [[deleteVectors]] tombstones fence sequence-aware (re-appended
    * vectors serve their newest codes — the upsert pattern). */
  private def allIvfPqCodes(spark: SparkSession, dir: String,
                            probes: Option[Seq[Long]]): DataFrame =
    allGenTables(spark, dir, "codes", Some("cluster"),
      Seq("n_id", "m", "c_id"), "n_id", probes)

  /** Probe a stored IVF-PQ index: rank the stored centroids per query,
    * read ONLY the probed cluster partitions of the codes table (of
    * every generation), ADC-score against the broadcast LUT, top-k.
    * Neither the corpus embeddings nor any unprobed cluster is ever
    * read; the driver sees only the O(queries × nProbe) probe ids.
    */
  def ivfPqTopKStored(spark: SparkSession, dir: String, queries: DataFrame,
                      k: Int, nProbe: Int = 1, m: Int = 8,
                      dims: Int = 64): DataFrame =
    ivfPqTopKStoredImpl(spark, dir, queries, k, nProbe, m, dims, None)

  /** Attribute-filtered stored IVF-PQ probe — [[ivfTopKStoredFiltered]]
    * on the coded layout: the `meta`-derived allow-list semi-joins the
    * cluster-pruned code rows BEFORE the ADC ranking window (k
    * survivors guaranteed; partition pruning intact). The semi-join
    * runs on (n_id, m) code rows — m bytes per candidate — so a
    * selective predicate makes the probe CHEAPER, never wider. */
  def ivfPqTopKStoredFiltered(spark: SparkSession, dir: String,
                              queries: DataFrame, k: Int, meta: DataFrame,
                              pred: Column, nProbe: Int = 1, m: Int = 8,
                              dims: Int = 64): DataFrame =
    ivfPqTopKStoredImpl(spark, dir, queries, k, nProbe, m, dims,
      Some(meta.filter(pred).select(col("vec_id").as("n_id"))))

  private def ivfPqTopKStoredImpl(spark: SparkSession, dir: String,
                                  queries: DataFrame, k: Int, nProbe: Int,
                                  m: Int, dims: Int,
                                  allowed: Option[DataFrame]): DataFrame = {
    requirePqDims(m, dims)
    val cent = spark.read.parquet(s"$dir/centroids")
    val cb = spark.read.parquet(s"$dir/codebook")
    val q = queries.select(col("vec_id"), col("embedding"))
    val probe = ivfRanked(q, cent).filter(col("arank") <= nProbe)
      .select(col("vec_id").as("q_id"), col("c_id").as("q_probe"))
      .transform(graft.util.ProbeCheckpoint.pin) // serving-probe pin (spark.graft.probeCheckpoint)
    val probes = probe.select(col("q_probe")).distinct().collect().map(_.getLong(0))
    val codes = allIvfPqCodes(spark, dir, Some(probes.toSeq))
    val filtered = allowed.fold(codes)(a =>
      codes.join(a, Seq("n_id"), "left_semi"))
    ivfPqScored(filtered, probe, pqLut(q, cb, m, dims), k)
  }

  /** Retrieve-then-refine over the STORED IVF-PQ index — the full
    * FAISS serving shape (IVFADC shortlist + refine): the
    * cluster-pruned ADC probe picks top-`c` per query from the m-byte
    * codes, then ONLY those c rows join back to the full-precision
    * corpus for exact-cosine re-ranking to top-k. Refinement cost is
    * bounded by c per query, never the corpus: the candidate→vector
    * join carries O(queries×c) ids into the vec_id-keyed embedding
    * store and the query side broadcasts — so the float corpus is
    * touched only at point-lookup granularity, after BOTH pruning
    * tiers (clusters, then codes) have done their work.
    */
  def ivfPqTopKRerankStored(spark: SparkSession, dir: String,
                            emb: DataFrame, queries: DataFrame, k: Int,
                            c: Int = 10, nProbe: Int = 1, m: Int = 8,
                            dims: Int = 64): DataFrame = {
    require(c >= k, s"shortlist size c=$c must be >= k=$k")
    val shortlist = ivfPqTopKStored(spark, dir, queries, c, nProbe, m, dims)
      .select(col("q_id"), col("n_id"))
    exactRerank(shortlist, emb, queries, k)
  }

  /** Shared exact-cosine refine tail of every retrieve-then-refine
    * probe: re-rank an O(queries×c) (q_id, n_id) shortlist against the
    * full-precision corpus to top-k. The shortlist broadcasts —
    * without the hint Catalyst has no size stats for the window output
    * and would shuffle the whole float corpus into a sort-merge join,
    * the exact movement the refine exists to avoid; the corpus is
    * touched only at point-lookup granularity. */
  private def exactRerank(shortlist: DataFrame, emb: DataFrame,
                          queries: DataFrame, k: Int): DataFrame = {
    val n = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val qv = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    broadcast(shortlist).join(n, "n_id").join(broadcast(qv), "q_id")
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"))
  }

  /** The full filtered serving shape — predicate + shortlist + exact
    * refine: the allow-list restricts the ADC shortlist candidates
    * ([[ivfPqTopKStoredFiltered]] semantics, filter BEFORE the
    * shortlist window so c matching candidates survive), then only
    * those c rows join back to the float corpus for exact-cosine
    * re-ranking. Every tier keeps its scale contract: clusters prune
    * the read, the predicate prunes the candidates, c bounds the
    * refine — the corpus is touched at point-lookup granularity. */
  def ivfPqTopKRerankStoredFiltered(spark: SparkSession, dir: String,
                                    emb: DataFrame, queries: DataFrame,
                                    k: Int, meta: DataFrame, pred: Column,
                                    c: Int = 10, nProbe: Int = 1,
                                    m: Int = 8, dims: Int = 64): DataFrame = {
    require(c >= k, s"shortlist size c=$c must be >= k=$k")
    val shortlist = ivfPqTopKStoredFiltered(spark, dir, queries, c, meta,
        pred, nProbe, m, dims)
      .select(col("q_id"), col("n_id"))
    exactRerank(shortlist, emb, queries, k)
  }

  /** Retrieve-then-refine over the TRAINED-codebook index — the
    * [[ivfPqTopKRerankStored]] serving shape with the Lloyd-trained
    * ADC shortlist (the recall knob composed with the recall-best
    * coded layout): trained ADC picks top-`c`, exact cosine refines
    * to top-k at point-lookup cost. */
  def ivfPqTrainedTopKRerankStored(spark: SparkSession, dir: String,
                                   emb: DataFrame, queries: DataFrame,
                                   k: Int, c: Int = 10, nProbe: Int = 1,
                                   m: Int = 8, dims: Int = 64): DataFrame = {
    require(c >= k, s"shortlist size c=$c must be >= k=$k")
    val shortlist = ivfPqTrainedTopKStored(spark, dir, queries, c, nProbe,
        m, dims)
      .select(col("q_id"), col("n_id"))
    exactRerank(shortlist, emb, queries, k)
  }

  /** The full PRODUCTION serving triple on the trained layout —
    * predicate + trained shortlist + exact refine ("top-k within
    * lang = 'en', Lloyd-trained ADC shortlist, exact-cosine refine"):
    * [[ivfPqTrainedTopKStoredFiltered]]'s filter-then-rank allow-list
    * (k survivors guaranteed, cluster partition pruning intact on
    * every generation) composed with the shared [[exactRerank]] tail,
    * mirroring the untrained triple [[ivfPqTopKRerankStoredFiltered]].
    * Every tier keeps its scale contract: clusters prune the read, the
    * predicate prunes the candidates, `c` bounds the refine — the
    * float corpus is touched at point-lookup granularity only. */
  def ivfPqTrainedTopKRerankStoredFiltered(spark: SparkSession, dir: String,
                                           emb: DataFrame, queries: DataFrame,
                                           k: Int, meta: DataFrame,
                                           pred: Column, c: Int = 10,
                                           nProbe: Int = 1, m: Int = 8,
                                           dims: Int = 64): DataFrame = {
    require(c >= k, s"shortlist size c=$c must be >= k=$k")
    val shortlist = ivfPqTrainedTopKStoredFiltered(spark, dir, queries, c,
        meta, pred, nProbe, m, dims)
      .select(col("q_id"), col("n_id"))
    exactRerank(shortlist, emb, queries, k)
  }

  /** AUTO-SIZED rerank shortlist width: derive `c` from the probed
    * clusters' STORED populations instead of a caller-supplied
    * constant. The round-11 2M measurement (docs/SCALE.md c-sweep)
    * proves `c` is the only knob that moves coded-layout recall on
    * clustered corpora, and that it must scale with cluster
    * population — a fixed c=50 covers 0.6% of a 7,800-member cell and
    * recall lands near-random; this helper makes the measured
    * prescription executable instead of advisory.
    *
    * Sizing rule (pinned by AnnSizingSpec):
    * `c = min(cap, max(k, ceil(coverage × meanProbedClusterPop)))`
    * where the populations come from a count over ONLY the probed
    * cluster partitions of the codes table (codes rows / m — one
    * count-star per probe set, pruned by the same static partition
    * filters the probe itself plans; never a full-index scan). The
    * default coverage 1/8 reaches ≥0.7 recall@10 on the 2M
    * planted-cluster rung (the auto-width run in docs/SCALE.md
    * round-12); `cap` bounds refine cost on degenerate population
    * skew — raise it for recall-critical serving, it is a cost
    * ceiling, not a tuning constant. */
  def autoRerankWidth(spark: SparkSession, dir: String, queries: DataFrame,
                      k: Int, nProbe: Int = 1, coverage: Double = 0.125,
                      cap: Int = 4096, m: Int = 8): Int = {
    require(coverage > 0 && coverage <= 1,
      s"coverage must be in (0, 1], got $coverage")
    val cent = spark.read.parquet(s"$dir/centroids")
    val q = queries.select(col("vec_id"), col("embedding"))
    val probes = ivfRanked(q, cent).filter(col("arank") <= nProbe)
      .select(col("c_id")).distinct().collect().map(_.getLong(0))
    val popRow = allIvfPqCodes(spark, dir, Some(probes.toSeq))
      .groupBy(col("cluster")).agg(count(lit(1)).as("rows"))
      .agg(avg(col("rows") / m)).collect()(0)
    // empty probe set / empty codes: no population evidence — floor at k
    val meanPop = if (popRow.isNullAt(0)) 0.0 else popRow.getDouble(0)
    math.min(cap, math.max(k, math.ceil(coverage * meanPop).toInt))
  }

  /** [[ivfPqTopKRerankStored]] with the shortlist width derived by
    * [[autoRerankWidth]] — the serving call that hits a recall target
    * on clustered corpora WITHOUT a hand-tuned width. */
  def ivfPqTopKRerankStoredAuto(spark: SparkSession, dir: String,
                                emb: DataFrame, queries: DataFrame, k: Int,
                                nProbe: Int = 1, coverage: Double = 0.125,
                                cap: Int = 4096, m: Int = 8,
                                dims: Int = 64): DataFrame =
    ivfPqTopKRerankStored(spark, dir, emb, queries, k,
      c = autoRerankWidth(spark, dir, queries, k, nProbe, coverage, cap, m),
      nProbe = nProbe, m = m, dims = dims)

  /** Trained-layout twin of [[ivfPqTopKRerankStoredAuto]]. */
  def ivfPqTrainedTopKRerankStoredAuto(spark: SparkSession, dir: String,
                                       emb: DataFrame, queries: DataFrame,
                                       k: Int, nProbe: Int = 1,
                                       coverage: Double = 0.125,
                                       cap: Int = 4096, m: Int = 8,
                                       dims: Int = 64): DataFrame =
    ivfPqTrainedTopKRerankStored(spark, dir, emb, queries, k,
      c = autoRerankWidth(spark, dir, queries, k, nProbe, coverage, cap, m),
      nProbe = nProbe, m = m, dims = dims)

  // ──────── TRAINED (Lloyd) PQ codebook: the measured fix for the
  // clustered-ADC collapse (SCALE.md round-10 recall table: id-drawn
  // codewords make in-cluster ADC ordering degenerate; k-means-trained
  // codewords spend the codebook's resolution where the data is) ──

  /** Quantized per-subspace view (vec_id, m, q): the kmeansAssign
    * integer trick applied per PQ subspace — q = ⌊v·4096 + 0.5⌋ ints,
    * so training state (Σq, cnt) stays EXACT and cross-engine
    * bit-identical; the only doubles are the comparison metric
    * divisions, identical op-order in both engines. */
  private def pqSubQuantized(emb: DataFrame, m: Int, dims: Int): DataFrame =
    emb.select(col("vec_id"), col("embedding"))
      .withColumn("m", explode(sequence(lit(0), lit(m - 1))))
      .select(col("vec_id"), col("m"),
        transform(pqSub(col("embedding"), col("m"), dims / m),
          x => floor(x.cast("double") * 4096 + 0.5)).as("q"))

  /** Nearest trained codeword per (vec_id, m) under the integer-state
    * kmeans metric ‖cnt·q − s‖²/cnt² with the (d, c_id) tie-break —
    * the map-side argmin fold (state rides as one broadcast
    * array-of-structs per subspace; no N×K row materialization, the
    * round-9 ivfAssign lesson applied to the coded tier). */
  private def trainedAssign(qv: DataFrame, state: DataFrame): DataFrame = {
    val stArr = state.groupBy(col("m"))
      .agg(collect_list(struct(col("c_id"), col("s"), col("cnt"))).as("cands"))
    qv.join(broadcast(stArr), "m")
      .withColumn("best", array_min(transform(col("cands"), c => {
        val a = aggregate(zip_with(col("q"), c.getField("s"), (x, si) => {
          val diff = c.getField("cnt") * x - si; diff * diff
        }), lit(0L), (acc, v) => acc + v)
        struct((a.cast("double") /
          (c.getField("cnt") * c.getField("cnt")).cast("double")).as("d"),
          c.getField("c_id").as("c_id"))
      })))
      .select(col("vec_id"), col("m"), col("q"),
        col("best").getField("c_id").as("cluster"))
  }

  /** Lloyd-TRAINED per-subspace codebook as exact integer state
    * (m, c_id, s = Σq, cnt): `iters` rounds of assign + mean-update
    * per subspace, initialized from the deterministic centroid-slice
    * codewords. Codeword identity = the initial codeword's c_id, so
    * coding/LUT key stability matches the untrained layout. Keeping
    * the state integral (never materializing float means) is what
    * makes 2 training rounds + coding + ADC oracle-exact in DuckDB —
    * the sim_kmeans contract, per subspace.
    *
    * Scale: each round is one corpus-pass fold (broadcast state,
    * map-side argmin) + one (m × K)-sized aggregation; state is
    * artifact-sized. Integer bound: |cnt·q| must stay under 2^63 —
    * cnt < ~700k per codeword at the 4096 quantization; shard or
    * sample the trainer beyond that (codebooks train on samples in
    * every production system anyway).
    *
    * `trainEvery` > 1 trains on the deterministic `vec_id % trainEvery
    * == 0` corpus SAMPLE instead of the full corpus — the production
    * codebook-training shape (FAISS et al. train on ≤100k samples; the
    * measured 2M full-corpus build spent ~95% of its wall in the two
    * per-round full-corpus assign+update passes, docs/SCALE.md). The
    * integer state keeps the sampled oracle exact too: the trainer's
    * input set changes, nothing about its arithmetic does. Init
    * codewords stay the FULL corpus's `% modulo == 0` slice (they need
    * not be members of the training sample — they are assignment
    * targets, not assignment inputs), so codeword identity is
    * independent of the sampling rate. */
  def pqCodebookTrainedState(emb: DataFrame, m: Int = 8, dims: Int = 64,
                             modulo: Int = 40, iters: Int = 2,
                             trainEvery: Int = 1): DataFrame = {
    requirePqDims(m, dims)
    require(trainEvery >= 1, s"trainEvery must be >= 1, got $trainEvery")
    val sample = if (trainEvery == 1) emb
      else emb.filter(col("vec_id") % trainEvery === 0)
    val qv = pqSubQuantized(sample, m, dims)
      .localCheckpoint(false) // reused every round; ContextCleaner-reclaimed
    var state = pqSubQuantized(
        emb.filter(col("vec_id") % modulo === 0), m, dims)
      .select(col("m"), col("vec_id").as("c_id"), col("q").as("s"),
        lit(1L).as("cnt"))
    for (_ <- 1 to iters) {
      val assigned = trainedAssign(qv, state)
      val cnts = assigned.groupBy(col("m"), col("cluster"))
        .agg(count(lit(1)).as("cnt"))
      val sums = assigned
        .select(col("m"), col("cluster"), posexplode(col("q")).as(Seq("i", "x")))
        .groupBy(col("m"), col("cluster"), col("i")).agg(sum(col("x")).as("sx"))
        .groupBy(col("m"), col("cluster"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("sx")))),
          st => st.getField("sx")).as("s"))
      state = sums.join(cnts, Seq("m", "cluster"))
        .select(col("m"), col("cluster").as("c_id"), col("s"), col("cnt"))
        .localCheckpoint(false) // bound lineage across rounds
    }
    state
  }

  /** Codes against a TRAINED state: (n_id, m, c_id). */
  private def trainedCodesOf(vecs: DataFrame, state: DataFrame, m: Int,
                             dims: Int): DataFrame =
    trainedAssign(pqSubQuantized(vecs, m, dims), state)
      .select(col("vec_id").as("n_id"), col("m"), col("cluster").as("c_id"))

  /** Query LUT against a trained state: pdot = ⟨q_sub, s⟩/(cnt·4096)
    * — the decoded-mean dot with ONE double division, sequential fold
    * order pinned to the oracle's list_reduce. */
  private def trainedLut(queries: DataFrame, state: DataFrame, m: Int,
                         dims: Int): DataFrame =
    queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .withColumn("m", explode(sequence(lit(0), lit(m - 1))))
      .join(broadcast(state), "m")
      .withColumn("pdot",
        aggregate(zip_with(pqSub(col("q_emb"), col("m"), dims / m), col("s"),
          (x, si) => x.cast("double") * si.cast("double")),
          lit(0.0), (acc, v) => acc + v) /
        (col("cnt").cast("double") * lit(4096.0)))
      .select(col("q_id"), col("m"), col("c_id"), col("pdot"))

  /** IVF + TRAINED-PQ top-k, index built inline: cluster pruning as
    * [[ivfPqTopK]], ADC against the Lloyd-trained codebook.
    * `trainEvery` > 1 = codebook trained on the deterministic corpus
    * sample (see [[pqCodebookTrainedState]]); coding and serving are
    * unchanged — the full corpus is always coded. */
  def ivfPqTrainedTopK(emb: DataFrame, queryIds: Column, k: Int,
                       nProbe: Int = 1, m: Int = 8, dims: Int = 64,
                       modulo: Int = 40, trainEvery: Int = 1): DataFrame = {
    requirePqDims(m, dims)
    val cent = ivfCentroids(emb, modulo)
    val state = pqCodebookTrainedState(emb, m, dims, modulo,
      trainEvery = trainEvery)
    val q = emb.filter(queryIds).select(col("vec_id"), col("embedding"))
    val probe = ivfRanked(q, cent).filter(col("arank") <= nProbe)
      .select(col("vec_id").as("q_id"), col("c_id").as("q_probe"))
    val codes = trainedCodesOf(emb, state, m, dims)
      .join(ivfAssign(emb, cent)
        .select(col("vec_id").as("n_id"), col("cluster")), "n_id")
    ivfPqScored(codes, probe, trainedLut(q, state, m, dims), k)
  }

  /** Build the trained-codebook IVF-PQ layout: same cluster-partitioned
    * codes table and probe machinery as [[writeIvfPqIndex]]; the only
    * difference is the `codebook_state` sidecar (trained integer state
    * instead of centroid slices). Appends/compaction/vacuum are the
    * shared codes-layout verbs. */
  def writeIvfPqTrainedIndex(emb: DataFrame, dir: String, modulo: Int = 40,
                             m: Int = 8, dims: Int = 64,
                             trainEvery: Int = 1): Unit = {
    requirePqDims(m, dims)
    requireFreshIndexRoot(emb.sparkSession, dir)
    val cent = ivfCentroids(emb, modulo)
    val state = pqCodebookTrainedState(emb, m, dims, modulo,
      trainEvery = trainEvery)
    cent.write.mode("overwrite").parquet(s"$dir/centroids")
    state.write.mode("overwrite").parquet(s"$dir/codebook_state")
    val codes = trainedCodesOf(emb, state, m, dims)
      .join(ivfAssign(emb, cent)
        .select(col("vec_id").as("n_id"), col("cluster")), "n_id")
    writeClusteredCodes(codes, s"$dir/codes")
  }

  /** Append NEW vectors to a stored trained-codebook index: assigned
    * against the FROZEN centroids and coded against the FROZEN trained
    * state (retraining either is a rebuild — the shared maintenance
    * contract). The codes layout is identical to plain IVF-PQ, so the
    * fold/vacuum verbs ([[compactIvfPqIndex]], [[vacuumVectorIndex]])
    * are SHARED, not re-implemented. */
  def appendIvfPqTrainedDelta(spark: SparkSession, dir: String,
                              emb: DataFrame, m: Int = 8,
                              dims: Int = 64): Unit = {
    requirePqDims(m, dims)
    val cent = spark.read.parquet(s"$dir/centroids")
    val state = spark.read.parquet(s"$dir/codebook_state")
    val next = graft.util.IndexCommit.nextDeltaId(spark, dir)
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val codes = trainedCodesOf(vecs, state, m, dims)
      .join(ivfAssign(vecs, cent)
        .select(col("vec_id").as("n_id"), col("cluster")), "n_id")
    writeClusteredCodes(codes, s"$dir/delta_$next/codes")
    maybeCompact(spark, dir, "codes", compactIvfPqIndex)
  }

  /** Per-generation QUANTIZATION-ERROR observability for a stored
    * coded index (PQ / IVF-PQ / trained): appends code new vectors
    * against the FROZEN codebook by design (bit-exact maintenance
    * gates), so under real corpus drift the representation error of
    * each new generation grows silently. This stats verb makes the
    * trade observable — the same honesty-by-metadata philosophy as the
    * reference's count sidecars (`func.cpp:65-72`): one row per live
    * generation, `(generation, n_vectors, mse)`, where `mse` is the
    * mean per-vector squared reconstruction error ‖v − decode(code(v))‖²
    * against the frozen codebook (trained-state sidecars decode as
    * member means, s/(cnt·4096)).
    *
    * Cost: one pass over each generation's codes joined to `emb` at
    * point-lookup granularity — a maintenance-time call, never on the
    * serving path. Compare deltas against the base with
    * [[retrainRecommended]].
    *
    * Residual layouts ([[writeIvfPqResidualIndex]], `_LAYOUT` =
    * `ivfpqr`) decode as centroid + residual codeword — the verb picks
    * the decode from the marker, so the reported MSE is the true
    * reconstruction error for every coded layout. */
  def quantizationDrift(spark: SparkSession, dir: String, emb: DataFrame,
                        m: Int = 8, dims: Int = 64): DataFrame = {
    requirePqDims(m, dims)
    val fsys = graft.util.IndexCommit.fs(spark, dir)
    // RESIDUAL layouts ([[writeIvfPqResidualIndex]]) share the whole
    // directory contract but their codes decode as centroid + residual
    // codeword — decoding them as absolute sub-vectors (the pre-round-
    // 12 behavior) reported a silently-garbage MSE. The `_LAYOUT`
    // marker selects the decode; a residual root built BEFORE the
    // marker existed still misreports, which is why the builder now
    // always writes one.
    val residualLayout = layoutMarker(spark, dir).contains("ivfpqr")
    val cb =
      if (fsys.exists(new org.apache.hadoop.fs.Path(s"$dir/codebook_state")))
        spark.read.parquet(s"$dir/codebook_state")
          .select(col("m"), col("c_id"),
            transform(col("s"), x =>
              x.cast("double") / (col("cnt").cast("double") * 4096.0))
              .as("c_sub"))
      else
        spark.read.parquet(s"$dir/codebook")
          .select(col("m"), col("c_id"),
            transform(col("c_sub"), x => x.cast("double")).as("c_sub"))
    // per-(cluster, m) centroid slices — the residual decode's other
    // half; one broadcast of an (nlist × m)-row sidecar derivative
    val centSub =
      if (!residualLayout) None
      else Some(spark.read.parquet(s"$dir/centroids")
        .withColumn("m", explode(sequence(lit(0), lit(m - 1))))
        .select(col("c_id").as("cluster"), col("m"),
          transform(pqSub(col("c_emb"), col("m"), dims / m),
            x => x.cast("double")).as("cent_sub")))
    val (baseDir, minDelta) = graft.util.IndexCommit.resolve(spark, dir)
    val gens = ("base", s"$baseDir/codes") +:
      graft.util.IndexCommit.deltaDirs(spark, dir, minDelta,
          commitSub = Some("codes"))
        .map(p => (p.split('/').last, s"$p/codes"))
    val v = emb.select(col("vec_id").as("n_id"), col("embedding"))
    gens.map { case (gen, codesDir) =>
      val codes = spark.read.parquet(codesDir)
        .select(col("n_id"), col("m"), col("c_id"), col("cluster"))
        .join(broadcast(cb), Seq("m", "c_id"))
      // decoded sub-vector: absolute layouts reconstruct as the
      // codeword; residual layouts as centroid slice + residual codeword
      val decoded = centSub.fold(codes.withColumn("dec_sub", col("c_sub"))) {
        cs => codes.join(broadcast(cs), Seq("cluster", "m"))
          .withColumn("dec_sub",
            zip_with(col("cent_sub"), col("c_sub"), (a, b) => a + b))
      }
      decoded
        .join(v, "n_id")
        .select(col("n_id"),
          aggregate(zip_with(pqSub(col("embedding"), col("m"), dims / m),
              col("dec_sub"),
              (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
            lit(0.0), (a, b) => a + b).as("se"))
        .groupBy(col("n_id")).agg(sum(col("se")).as("vse"))
        .agg(count(lit(1)).as("n_vectors"), avg(col("vse")).as("mse"))
        .select(lit(gen).as("generation"), col("n_vectors"), col("mse"))
    }.reduce(_ unionAll _)
  }

  /** Documented retrain threshold: a delta generation whose mean
    * squared reconstruction error exceeds the live base's by this
    * factor no longer fits the frozen codebook — rebuild the index
    * (which retrains centroids/codebook over the full current corpus).
    * 2× is where the measured clustered-corpus recall loss starts to
    * dominate nProbe tuning; tighten for recall-critical serving. */
  val RetrainDriftThreshold = 2.0

  /** True when any delta generation's quantization error exceeds
    * [[RetrainDriftThreshold]] × the live base's — the observable
    * "frozen codebook has drifted off the corpus; rebuild" signal. */
  def retrainRecommended(spark: SparkSession, dir: String, emb: DataFrame,
                         m: Int = 8, dims: Int = 64,
                         threshold: Double = RetrainDriftThreshold): Boolean = {
    // a generation whose codes all miss the caller's emb frame (e.g. a
    // partial corpus passed for a spot check) reports n_vectors=0 with
    // a NULL mse — degrade to "no evidence" for it, never NPE
    val rows = quantizationDrift(spark, dir, emb, m, dims).collect()
      .filter(r => !r.isNullAt(2))
    val base = rows.find(_.getString(0) == "base")
      .map(_.getDouble(2)).filter(_ > 0)
    val worst = rows.filter(_.getString(0) != "base")
      .map(_.getDouble(2)).maxOption
    (for (b <- base; w <- worst) yield w / b > threshold).getOrElse(false)
  }

  /** Stored trained-codebook probe: identical pruning to
    * [[ivfPqTopKStored]] (static cluster partition filters on every
    * generation), LUT from the trained state sidecar. */
  def ivfPqTrainedTopKStored(spark: SparkSession, dir: String,
                             queries: DataFrame, k: Int, nProbe: Int = 1,
                             m: Int = 8, dims: Int = 64): DataFrame =
    ivfPqTrainedTopKStoredImpl(spark, dir, queries, k, nProbe, m, dims, None)

  /** Attribute-filtered stored TRAINED-codebook probe — the production
    * call shape ("top-k within lang = 'en'") composed with the best
    * coded layout: [[ivfPqTopKStoredFiltered]]'s filter-then-rank
    * allow-list semi-join (k survivors guaranteed, cluster partition
    * pruning intact) over the Lloyd-trained codes. Without this twin
    * a filtered query had to fall back to the id-drawn codebook, whose
    * clustered-corpus recall collapse is measured in docs/SCALE.md. */
  def ivfPqTrainedTopKStoredFiltered(spark: SparkSession, dir: String,
                                     queries: DataFrame, k: Int,
                                     meta: DataFrame, pred: Column,
                                     nProbe: Int = 1, m: Int = 8,
                                     dims: Int = 64): DataFrame =
    ivfPqTrainedTopKStoredImpl(spark, dir, queries, k, nProbe, m, dims,
      Some(meta.filter(pred).select(col("vec_id").as("n_id"))))

  private def ivfPqTrainedTopKStoredImpl(spark: SparkSession, dir: String,
                                         queries: DataFrame, k: Int,
                                         nProbe: Int, m: Int, dims: Int,
                                         allowed: Option[DataFrame]): DataFrame = {
    requirePqDims(m, dims)
    val cent = spark.read.parquet(s"$dir/centroids")
    val state = spark.read.parquet(s"$dir/codebook_state")
    val q = queries.select(col("vec_id"), col("embedding"))
    val probe = ivfRanked(q, cent).filter(col("arank") <= nProbe)
      .select(col("vec_id").as("q_id"), col("c_id").as("q_probe"))
      .transform(graft.util.ProbeCheckpoint.pin) // serving-probe pin (spark.graft.probeCheckpoint)
    val probes = probe.select(col("q_probe")).distinct().collect().map(_.getLong(0))
    val codes = allIvfPqCodes(spark, dir, Some(probes.toSeq))
    val filtered = allowed.fold(codes)(a =>
      codes.join(a, Seq("n_id"), "left_semi"))
    ivfPqScored(filtered, probe, trainedLut(q, state, m, dims), k)
  }

  // ──────── Residual IVF-PQ: code v − centroid(v), the FAISS default ──

  /** Element-wise float32 residual v − c (both engines subtract in
    * float32, so the only precision-sensitive step of the residual
    * chain is bit-identical cross-engine). */
  private def residual(v: Column, c: Column): Column =
    zip_with(v, c, (x, y) => x - y)

  /** Residuals of `vecs` against their ASSIGNED centroids:
    * (vec_id, cluster, r). Map-side: assignment is [[ivfAssign]]'s
    * zero-shuffle fold, the centroid lookup a broadcast join. */
  private def residualsOf(vecs: DataFrame, cent: DataFrame): DataFrame =
    ivfAssign(vecs, cent)
      .join(broadcast(cent.select(col("c_id").as("cluster"), col("c_emb"))),
        "cluster")
      .select(col("vec_id"), col("cluster"),
        residual(col("embedding"), col("c_emb")).as("r"))

  /** Residual codebook: the deterministic `vec_id % modulo == 1`
    * sample's residuals (the `% modulo == 0` set would be degenerate —
    * those vectors ARE the centroids, so their residuals vanish),
    * sliced per subspace → (m, c_id, c_sub). */
  private def residualCodebook(emb: DataFrame, cent: DataFrame, m: Int,
                               dims: Int, modulo: Int): DataFrame =
    residualsOf(emb.filter(col("vec_id") % modulo === 1)
        .select(col("vec_id"), col("embedding")), cent)
      .withColumn("m", explode(sequence(lit(0), lit(m - 1))))
      .select(col("m"), col("vec_id").as("c_id"),
        pqSub(col("r"), col("m"), dims / m).as("c_sub"))

  /** Cluster-tagged RESIDUAL codes: each vector's residual encoded by
    * the same map-side argmax as [[pqCodes]] — (n_id, m, c_id,
    * cluster), the layout [[allIvfPqCodes]]/[[compactIvfPqIndex]]
    * already maintain (the residual variant rides the exact same
    * generation machinery). */
  private def ivfPqResidualCodesOf(emb: DataFrame, cent: DataFrame,
                                   rcb: DataFrame, m: Int,
                                   dims: Int): DataFrame = {
    val res = residualsOf(emb.select(col("vec_id"), col("embedding")), cent)
    pqCodes(res.select(col("vec_id"), col("r").as("embedding")), rcb, m, dims)
      .join(res.select(col("vec_id"), col("cluster")),
        col("vec_id") === col("n_id"))
      .select(col("n_id"), col("m"), col("c_id"), col("cluster"))
  }

  /** Residual-ADC scoring: the query's residual is taken against each
    * PROBED cluster's centroid (q − c_probe — with nProbe > 1 a query
    * carries one residual LUT per probed cluster, the FAISS IVFPQ
    * shape), so the LUT is keyed (q_id, cluster, m, c_id) and the
    * codes join picks up probe membership and LUT rows in ONE
    * broadcast equi-join. Fold order-pinned as everywhere.
    */
  private def ivfPqResidualScored(codes: DataFrame, cent: DataFrame,
                                  cb: DataFrame, probe: DataFrame, k: Int,
                                  m: Int, dims: Int): DataFrame = {
    val centK = cent.select(col("c_id").as("q_probe"), col("c_emb"))
    val lut = probe.join(broadcast(centK), "q_probe")
      .select(col("q_id"), col("q_probe"),
        residual(col("q_emb"), col("c_emb")).as("r"))
      .withColumn("m", explode(sequence(lit(0), lit(m - 1))))
      .join(broadcast(cb), "m")
      .withColumn("pdot", dot(pqSub(col("r"), col("m"), dims / m), col("c_sub")))
      .select(col("q_id"), col("q_probe").as("cluster"), col("m"),
        col("c_id"), col("pdot"))
    val scored = codes.join(broadcast(lut), Seq("cluster", "m", "c_id"))
      .filter(col("q_id") =!= col("n_id"))
      .groupBy(col("q_id"), col("cluster"), col("n_id"))
      .agg(sort_array(collect_list(struct(col("m"), col("pdot")))).as("parts"))
      .withColumn("score", aggregate(col("parts"), lit(0.0),
        (acc, x) => acc + x.getField("pdot")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("cluster"), col("n_id"), col("rank"))
  }

  private def ivfProbeOf(queries: DataFrame, cent: DataFrame,
                         nProbe: Int): DataFrame =
    ivfRanked(queries.select(col("vec_id"), col("embedding")), cent)
      .filter(col("arank") <= nProbe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("c_id").as("q_probe"))

  /** Residual IVF-PQ top-k (index built inline): the raw-vector
    * [[ivfPqTopK]] with the coding moved to v − centroid(v) — the
    * FAISS default, which spends the codebook's resolution on the
    * within-cluster displacement instead of re-describing the cluster
    * position, lifting recall at the same m. */
  def ivfPqResidualTopK(emb: DataFrame, queryIds: Column, k: Int,
                        nProbe: Int = 1, m: Int = 8, dims: Int = 64,
                        modulo: Int = 40): DataFrame = {
    requirePqDims(m, dims)
    val cent = ivfCentroids(emb, modulo)
    val rcb = residualCodebook(emb, cent, m, dims, modulo)
    ivfPqResidualScored(ivfPqResidualCodesOf(emb, cent, rcb, m, dims),
      cent, rcb, ivfProbeOf(emb.filter(queryIds), cent, nProbe), k, m, dims)
  }

  /** Build the residual IVF-PQ layout — same directory contract as
    * [[writeIvfPqIndex]] (codes partitioned by cluster + frozen
    * centroid/codebook sidecars), codes holding residual sub-codes. */
  def writeIvfPqResidualIndex(emb: DataFrame, dir: String, modulo: Int = 40,
                              m: Int = 8, dims: Int = 64): Unit = {
    requirePqDims(m, dims)
    requireFreshIndexRoot(emb.sparkSession, dir)
    val cent = ivfCentroids(emb, modulo)
    val rcb = residualCodebook(emb, cent, m, dims, modulo)
    cent.write.mode("overwrite").parquet(s"$dir/centroids")
    rcb.write.mode("overwrite").parquet(s"$dir/codebook")
    // the residual codebook is structurally indistinguishable from an
    // absolute one (same (m, c_id, c_sub) schema) — the marker is what
    // lets layout-sensitive verbs ([[quantizationDrift]]) pick the
    // residual decode instead of silently reporting garbage MSE
    writeLayoutMarker(emb.sparkSession, dir, "ivfpqr")
    writeClusteredCodes(ivfPqResidualCodesOf(emb, cent, rcb, m, dims),
      s"$dir/codes")
  }

  /** One-line `_LAYOUT` flavor marker at the index root (written by
    * builders whose sidecar schema alone cannot identify the decode
    * rule — today only the residual layout needs one). */
  private def writeLayoutMarker(spark: SparkSession, dir: String,
                                flavor: String): Unit = {
    val f = graft.util.IndexCommit.fs(spark, dir)
    val out = f.create(new org.apache.hadoop.fs.Path(s"$dir/_LAYOUT"), true)
    try out.write(s"$flavor\n".getBytes("UTF-8")) finally out.close()
  }

  /** The index root's `_LAYOUT` flavor (None when unmarked — plain and
    * trained layouts carry no marker; their sidecar names identify
    * them). */
  private def layoutMarker(spark: SparkSession, dir: String): Option[String] = {
    val f = graft.util.IndexCommit.fs(spark, dir)
    val p = new org.apache.hadoop.fs.Path(s"$dir/_LAYOUT")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().next().trim)
      finally in.close()
    }
  }

  /** Frozen-sidecar delta append for the residual layout; folds with
    * [[compactIvfPqIndex]] and reclaims with [[vacuumVectorIndex]] —
    * the codes table is layout-identical, so the whole maintenance
    * machinery (tombstones included) is shared, not re-implemented. */
  def appendIvfPqResidualDelta(spark: SparkSession, dir: String,
                               emb: DataFrame, m: Int = 8,
                               dims: Int = 64): Unit = {
    requirePqDims(m, dims)
    val cent = spark.read.parquet(s"$dir/centroids")
    val cb = spark.read.parquet(s"$dir/codebook")
    val next = graft.util.IndexCommit.nextDeltaId(spark, dir)
    writeClusteredCodes(
      ivfPqResidualCodesOf(emb.select(col("vec_id"), col("embedding")),
        cent, cb, m, dims),
      s"$dir/delta_$next/codes")
    maybeCompact(spark, dir, "codes", compactIvfPqIndex)
  }

  /** Probe a stored residual IVF-PQ index: probed-cluster pruning on
    * every generation + per-probed-cluster residual LUT; neither the
    * corpus nor any unprobed cluster is read. */
  def ivfPqResidualTopKStored(spark: SparkSession, dir: String,
                              queries: DataFrame, k: Int, nProbe: Int = 1,
                              m: Int = 8, dims: Int = 64): DataFrame = {
    requirePqDims(m, dims)
    val cent = spark.read.parquet(s"$dir/centroids")
    val cb = spark.read.parquet(s"$dir/codebook")
    val probe = ivfProbeOf(queries, cent, nProbe)
      .transform(graft.util.ProbeCheckpoint.pin) // serving-probe pin (spark.graft.probeCheckpoint)
    val probes = probe.select(col("q_probe")).distinct().collect()
      .map(_.getLong(0))
    ivfPqResidualScored(allIvfPqCodes(spark, dir, Some(probes.toSeq)),
      cent, cb, probe, k, m, dims)
  }

  /** SemDeDup-style semantic dedup: cluster the corpus (nearest
    * deterministic centroid — the same assignment the IVF index uses),
    * then within each cluster drop every vector that has a
    * cosine-≥-threshold pair with a smaller-id vector. Output is the
    * kept set with its cluster.
    *
    * Scale shape: assignment is a broadcast argmin (map-side); the
    * pairwise pass is confined to within-cluster blocks — O(Σ|cluster|²)
    * instead of corpus² — and at 100 TB runs over the bucketed IVF
    * layout so each block is one partition's self-join.
    */
  def semDedup(emb: DataFrame, modulo: Int = 40,
               threshold: Double = 0.4): DataFrame = {
    // lazy localCheckpoint, not persist: the assignment feeds the pair
    // join twice + the anti join, and checkpoint blocks are released by
    // the ContextCleaner when the plan is GC'd (a persist here would pin
    // cache for the session unless explicitly unpersisted, which a
    // lazily-returned DataFrame has no good point to do)
    val assigned = ivfAssign(emb, ivfCentroids(emb, modulo))
      .localCheckpoint(false)
    val a = assigned.select(col("cluster").as("a_cluster"),
      col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = assigned.select(col("cluster").as("b_cluster"),
      col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    val dropped = a.join(b,
        col("a_cluster") === col("b_cluster") && col("a_id") < col("b_id"))
      .filter(cosine(col("a_emb"), col("b_emb")) >= threshold)
      .select(col("b_id")).distinct()
    assigned.join(dropped, assigned("vec_id") === dropped("b_id"), "left_anti")
      .select(col("vec_id"), col("cluster"))
  }

  /** Embedding-cosine near-duplicate pairs within a label block. */
  def embeddingDupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val a = emb.select(col("vec_id").as("a_id"), col("label"), col("embedding").as("a_emb"))
    val b = emb.select(col("vec_id").as("b_id"), col("label").as("b_label"),
      col("embedding").as("b_emb"))
    a.join(b, col("label") === col("b_label") && col("a_id") < col("b_id"))
      .withColumn("cos", cosine(col("a_emb"), col("b_emb")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  // --------------------------------------------------------------- queries

  /** Distributed Lloyd's k-means over the embedding corpus — the
    * training step every IVF/PQ index above takes as given (their
    * centroids are a deterministic sample; production systems train
    * them with exactly this loop). Returns each vector's cluster after
    * `iters` full Lloyd iterations from the `vec_id % modulo == 0`
    * seed set, plus its squared distance to the final centroid.
    *
    * Exactness across engines — the usual k-means fp pitfalls are
    * removed structurally, the same trick the Louvain oracle uses
    * (integerized gains):
    *  - embeddings are quantized once to integers, `q_i =
    *    floor(x_i·2¹² + 0.5)` — scaling by a power of two is an exact
    *    fp op, so quantization is bit-identical everywhere;
    *  - a centroid is kept as the exact rational `(Σq, count)` — never
    *    a floating mean, so iteration state is integer-exact and
    *    accumulation-order-free;
    *  - the assignment metric `‖cnt·q − s‖²/cnt²` needs one BIGINT
    *    fold and ONE IEEE division — deterministic, and argmin ties
    *    break on centroid id.
    *
    * Scale shape (one Lloyd iteration at 100 TB): centroid state is
    * k·(64·8 B) — broadcast; assignment is map-side; the recompute is
    * a posexplode to (cluster, dim, x) keys — a map-side-combinable
    * integer sum shuffling k·64 partials per map task, the canonical
    * mergeable-aggregation shape. Nothing corpus-sized ever shuffles.
    */
  def kmeansAssign(emb: DataFrame, modulo: Int = 40,
                   iters: Int = 2): DataFrame = {
    val qv = emb.select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 4096 + 0.5)).as("q"))
    var state = qv.filter(col("vec_id") % modulo === 0)
      .select(col("vec_id").as("c_id"), col("q").as("s"), lit(1L).as("cnt"))
    var assigned: DataFrame = null
    var it = 0
    while (it < iters) {
      val aw = Window.partitionBy(col("vec_id")).orderBy(col("d"), col("c_id"))
      assigned = qv.join(broadcast(state), lit(true))
        .withColumn("a", aggregate(
          zip_with(col("q"), col("s"), (x, si) => {
            val diff = col("cnt") * x - si; diff * diff
          }),
          lit(0L), (acc, v) => acc + v))
        .withColumn("d",
          col("a").cast("double") / (col("cnt") * col("cnt")).cast("double"))
        .withColumn("rk", row_number().over(aw))
        .filter(col("rk") === 1)
        .select(col("vec_id"), col("q"), col("c_id").as("cluster"), col("d"))
      it += 1
      if (it < iters) {
        val cnts = assigned.groupBy(col("cluster"))
          .agg(count(lit(1)).as("cnt"))
        val sums = assigned
          .select(col("cluster"), posexplode(col("q")).as(Seq("i", "x")))
          .groupBy(col("cluster"), col("i")).agg(sum(col("x")).as("sx"))
          .groupBy(col("cluster"))
          .agg(transform(
            array_sort(collect_list(struct(col("i"), col("sx")))),
            st => st.getField("sx")).as("s"))
        // both sides are k rows — keep the join off the shuffle path
        state = sums.join(broadcast(cnts), "cluster")
          .select(col("cluster").as("c_id"), col("s"), col("cnt"))
      }
    }
    assigned.select(col("vec_id"), col("cluster"), col("d"))
  }

  /** Scalar-quantized (SQ8) ANN: each dimension is affine-coded to one
    * byte against per-dimension corpus [min, max] — a 4× (fp32) memory
    * cut with no index structure, the quantization every serious vector
    * store offers below PQ. Probing is asymmetric (full-precision query
    * against DEQUANTIZED codes) for a top-`c` shortlist, then the exact
    * top-`k` rerank over true embeddings — the same shortlist+refine
    * contract as [[pqTopKRerank]], candidates bounded by `c` per query.
    *
    * Exactness: per-dim min/max are order-free (no fp accumulation);
    * code = ⌊(x−mn)/(mx−mn)·255 + 0.5⌋ is a fixed-order IEEE chain, so
    * codes are bit-identical cross-engine; ADC scores fold
    * sequentially like every dot in this file.
    *
    * Scale shape: the stats row is 2×64 floats — a broadcast; coding is
    * map-side; at rest the codes table is what you persist (byte[64]
    * per row vs float[64]); the shortlist window shuffles only
    * (query × corpus) scored ids, and the rerank touches `c` rows per
    * query because the shortlist carries its embeddings along.
    */
  def sq8TopK(emb: DataFrame, queryIds: Column, k: Int,
              c: Int = 10): DataFrame = {
    val stats = emb.select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(min(col("x")).cast("double").as("mn"),
        max(col("x")).cast("double").as("mx"))
      .groupBy()
      .agg(
        transform(array_sort(collect_list(struct(col("i"), col("mn")))),
          st => st.getField("mn")).as("mns"),
        transform(array_sort(collect_list(struct(col("i"), col("mx")))),
          st => st.getField("mx")).as("mxs"))
    // dequantized vector: dec_i = mn_i + code_i/255·(mx_i−mn_i); the
    // code is materialized inline so nothing depends on fp re-derivation
    val dec = transform(sequence(lit(1), lit(64)), i => {
      val mn = element_at(col("mns"), i)
      val mx = element_at(col("mxs"), i)
      val x = element_at(col("embedding"), i).cast("double")
      mn + floor((x - mn) / (mx - mn) * 255 + 0.5) / 255 * (mx - mn)
    })
    val coded = emb.crossJoin(broadcast(stats))
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        dec.as("dec"))
    val q = emb.filter(queryIds)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val ws = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("n_id"))
    val shortlist = coded.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("adc", dotSpec(col("q_emb"), col("dec")))
      .withColumn("srank", row_number().over(ws))
      .filter(col("srank") <= c)
    val wr = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    shortlist
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_sq8" -> { (s, d) =>
      sq8TopK(t(s, d, "embeddings"), col("vec_id") < 8, 3)
    },
    "sim_kmeans" -> { (s, d) =>
      kmeansAssign(t(s, d, "embeddings"))
    },
    "sim_topk" -> { (s, d) =>
      bruteForceTopK(t(s, d, "embeddings"), col("vec_id") < 8, 5)
    },
    // attribute-filtered retrieval (the production call shape: "top-k
    // WITHIN label-class"): candidates restricted by a metadata
    // predicate BEFORE ranking, so k survivors are guaranteed — the
    // exact baseline plus both pruned stored layouts (IVF, IVF-PQ)
    "sim_filtered" -> { (s, d) =>
      bruteForceTopKFiltered(t(s, d, "embeddings"), col("vec_id") < 8,
        col("label") % 2 === 0, 5)
    },
    "sim_filtered_stored" -> { (s, d) =>
      ivfTopKStoredFiltered(s, s"${indexDir(s, d)}/ivf",
        t(s, d, "embeddings").filter(col("vec_id") < 8), 3,
        t(s, d, "embeddings"), col("label") % 2 === 0)
    },
    "sim_filtered_ivfpq" -> { (s, d) =>
      ivfPqTopKStoredFiltered(s, s"${indexDir(s, d)}/ivfpq",
        t(s, d, "embeddings").filter(col("vec_id") < 8), 3,
        t(s, d, "embeddings"), col("label") % 2 === 0)
    },
    // the production composition: attribute filter over the BEST coded
    // layout (Lloyd-trained codebook) — filter-then-rank allow-list on
    // the cluster-pruned trained codes
    "sim_filtered_trained" -> { (s, d) =>
      ivfPqTrainedTopKStoredFiltered(s, s"${indexDir(s, d)}/ivfpq_trained",
        t(s, d, "embeddings").filter(col("vec_id") < 8), 3,
        t(s, d, "embeddings"), col("label") % 2 === 0)
    },
    // the full filtered serving shape: predicate-pruned ADC shortlist
    // + exact-cosine refine bounded by c per query
    "sim_filtered_rerank" -> { (s, d) =>
      ivfPqTopKRerankStoredFiltered(s, s"${indexDir(s, d)}/ivfpq",
        t(s, d, "embeddings"),
        t(s, d, "embeddings").filter(col("vec_id") < 8), 3,
        t(s, d, "embeddings"), col("label") % 2 === 0, c = 10)
    },
    // fixed-radius retrieval over the same query set (0.25 is exactly
    // representable in binary, so the threshold compare is bit-exact)
    "sim_range" -> { (s, d) =>
      rangeSearch(t(s, d, "embeddings"), col("vec_id") < 8, 0.25)
    },
    // MMR-diversified top-k over the same query set (λ = 0.5 — exactly
    // representable, so both engines score with bit-identical doubles)
    "sim_mmr" -> { (s, d) =>
      mmrTopK(t(s, d, "embeddings"), col("vec_id") < 8)
    },
    "sim_ivf" -> { (s, d) =>
      ivfTopK(t(s, d, "embeddings"), col("vec_id") < 8, 3)
    },
    "d_embed_dup" -> { (s, d) =>
      embeddingDupPairs(t(s, d, "embeddings"), 0.4)
    },
    "d_semdedup" -> { (s, d) =>
      semDedup(t(s, d, "embeddings"))
    },
    "sim_knn_join" -> { (s, d) =>
      knnJoin(t(s, d, "embeddings"))
    },
    "sim_pq" -> { (s, d) =>
      pqTopK(t(s, d, "embeddings"), col("vec_id") < 8, 3)
    },
    "sim_pq_stored" -> { (s, d) =>
      pqTopKStored(s, s"${indexDir(s, d)}/pq",
        t(s, d, "embeddings").filter(col("vec_id") < 8), 3)
    },
    "sim_pq_rerank" -> { (s, d) =>
      pqTopKRerank(t(s, d, "embeddings"), col("vec_id") < 8, 3, c = 10)
    },
    // stored PQ probe over the split+delete+restore fixture: frozen-
    // codebook delta codes ≡ monolithic encoding, tombstoned vectors
    // fenced, restored ones served once — the full maintenance
    // lifecycle in one oracle-checked probe
    "sim_pq_deleted" -> { (s, d) =>
      pqTopKStored(s, s"${indexDir(s, d)}/pq_tomb",
        t(s, d, "embeddings").filter(col("vec_id") < 8), 3)
    },
    "sim_lsh" -> { (s, d) =>
      lshTopK(t(s, d, "embeddings"), col("vec_id") < 8, 3)
    },
    "sim_ivf_multiprobe" -> { (s, d) =>
      ivfTopK(t(s, d, "embeddings"), col("vec_id") < 8, 3, nProbe = 2)
    },
    // persisted-index probes: must produce EXACTLY the recompute variants'
    // results (same oracle SQL) while reading only probed partitions
    "sim_ivf_stored" -> { (s, d) =>
      ivfTopKStored(s, s"${indexDir(s, d)}/ivf",
        t(s, d, "embeddings").filter(col("vec_id") < 8), 3)
    },
    "sim_lsh_stored" -> { (s, d) =>
      lshTopKStored(s, s"${indexDir(s, d)}/lsh",
        t(s, d, "embeddings").filter(col("vec_id") < 8), 3)
    },
    // stored IVF probe over the delete/restore fixture: tombstoned
    // vectors vanish from every generation's probe, restored ones
    // serve exactly once — the oracle recomputes the probe over
    // survivors ∪ restored with the same frozen (full-set) centroids
    "sim_ivf_deleted" -> { (s, d) =>
      ivfTopKStored(s, s"${indexDir(s, d)}/ivf_tomb",
        t(s, d, "embeddings").filter(col("vec_id") < 8), 3)
    },
    "sim_lsh_multiprobe" -> { (s, d) =>
      lshTopKMultiProbe(t(s, d, "embeddings"), col("vec_id") < 8, 3)
    },
    // IVF-PQ composition: cluster pruning bounds WHICH codes are read,
    // PQ bounds what each costs — inline and stored must produce the
    // same rows (one oracle), and the lifecycle fixture adds frozen-
    // sidecar deltas + the tombstone fence under per-generation pruning
    "sim_ivfpq" -> { (s, d) =>
      ivfPqTopK(t(s, d, "embeddings"), col("vec_id") < 8, 3)
    },
    "sim_ivfpq_stored" -> { (s, d) =>
      ivfPqTopKStored(s, s"${indexDir(s, d)}/ivfpq",
        t(s, d, "embeddings").filter(col("vec_id") < 8), 3)
    },
    "sim_ivfpq_deleted" -> { (s, d) =>
      ivfPqTopKStored(s, s"${indexDir(s, d)}/ivfpq_tomb",
        t(s, d, "embeddings").filter(col("vec_id") < 8), 3)
    },
    // Lloyd-TRAINED codebook (2 integer-state kmeans rounds per
    // subspace): inline and stored share one oracle — the trained
    // state is data, so persisting it must not change a row
    "sim_ivfpq_trained" -> { (s, d) =>
      ivfPqTrainedTopK(t(s, d, "embeddings"), col("vec_id") < 8, 3)
    },
    "sim_ivfpq_trained_stored" -> { (s, d) =>
      ivfPqTrainedTopKStored(s, s"${indexDir(s, d)}/ivfpq_trained",
        t(s, d, "embeddings").filter(col("vec_id") < 8), 3)
    },
    // SAMPLE-trained codebook (the production training shape: Lloyd on
    // the deterministic vec_id % 5 == 0 sample, full corpus coded) —
    // the integer-state trick keeps the sampled trainer oracle-exact
    "sim_ivfpq_trained_sampled" -> { (s, d) =>
      ivfPqTrainedTopK(t(s, d, "embeddings"), col("vec_id") < 8, 3,
        trainEvery = 5)
    },
    // trained ADC shortlist + exact-cosine refine: the recall knob
    // composed with the recall-best coded layout
    "sim_trained_rerank" -> { (s, d) =>
      ivfPqTrainedTopKRerankStored(s, s"${indexDir(s, d)}/ivfpq_trained",
        t(s, d, "embeddings"),
        t(s, d, "embeddings").filter(col("vec_id") < 8), 3, c = 10)
    },
    // the full PRODUCTION triple on the trained layout: predicate +
    // trained ADC shortlist + exact-cosine refine
    "sim_filtered_trained_rerank" -> { (s, d) =>
      ivfPqTrainedTopKRerankStoredFiltered(s,
        s"${indexDir(s, d)}/ivfpq_trained",
        t(s, d, "embeddings"),
        t(s, d, "embeddings").filter(col("vec_id") < 8), 3,
        t(s, d, "embeddings"), col("label") % 2 === 0, c = 10)
    },
    // the full FAISS serving shape: cluster-pruned ADC shortlist from
    // the stored codes, exact-cosine refine bounded by c per query
    "sim_ivfpq_rerank" -> { (s, d) =>
      ivfPqTopKRerankStored(s, s"${indexDir(s, d)}/ivfpq",
        t(s, d, "embeddings"),
        t(s, d, "embeddings").filter(col("vec_id") < 8), 3, c = 10)
    },
    // residual coding (v − centroid, the FAISS default): inline and
    // stored must match one oracle — persisting residual codes must
    // not change a row, and the float32 subtraction is the only
    // precision-sensitive step (bit-identical in both engines)
    "sim_ivfpqr" -> { (s, d) =>
      ivfPqResidualTopK(t(s, d, "embeddings"), col("vec_id") < 8, 3)
    },
    "sim_ivfpqr_stored" -> { (s, d) =>
      ivfPqResidualTopKStored(s, s"${indexDir(s, d)}/ivfpqr",
        t(s, d, "embeddings").filter(col("vec_id") < 8), 3)
    },
    // MMR fed from the STORED IVF index (partition-pruned probe) —
    // the scale composition the brute sim_mmr only gate-checks
    "sim_mmr_stored" -> { (s, d) =>
      mmrTopKStored(s, s"${indexDir(s, d)}/ivf",
        t(s, d, "embeddings").filter(col("vec_id") < 8), nProbe = 2)
    }
  )

  /** Dot/cosine in DuckDB with the same op order as the Spark side
    * (sequential list_reduce sum; cosine = dot / sqrt / sqrt). Shared
    * with Multimodal's embed-chain oracle — one copy of the
    * parity-critical fold.
    */
  private[operators] def dotSql(x: String, y: String, dims: Int = 64): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(1, ${dims + 1}), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))), " +
      s"(acc, v) -> acc + v)"

  private[operators] def cosSql(a: String, b: String, dims: Int = 64): String =
    s"${dotSql(a, b, dims)} / sqrt(${dotSql(a, a, dims)}) / sqrt(${dotSql(b, b, dims)})"

  /** The PQ coding/LUT/ADC-scoring CTE chain up through `ranked` —
    * shared by the plain, stored, and rerank oracles so all three pin
    * the identical shortlist semantics.
    */
  private lazy val pqRankedCtes: String =
    s"""WITH cent AS (
         |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
         |  WHERE vec_id % 40 = 0),
         |ms AS (SELECT unnest(range(0, 8)) AS m),
         |codebook AS (
         |  SELECT m, c_id, list_slice(c_emb, m*8 + 1, m*8 + 8) AS c_sub
         |  FROM cent CROSS JOIN ms),
         |vs AS (
         |  SELECT vec_id, m, list_slice(embedding, m*8 + 1, m*8 + 8) AS v_sub
         |  FROM embeddings CROSS JOIN ms),
         |codes AS (
         |  SELECT vec_id AS n_id, m, c_id FROM (
         |    SELECT vs.vec_id, vs.m, cb.c_id,
         |      row_number() OVER (PARTITION BY vs.vec_id, vs.m
         |        ORDER BY ${dotSql("v_sub", "c_sub", 8)} DESC, cb.c_id) AS r
         |    FROM vs JOIN codebook cb ON cb.m = vs.m)
         |  WHERE r = 1),
         |lut AS (
         |  SELECT q.vec_id AS q_id, q.m, cb.c_id,
         |    ${dotSql("q.v_sub", "cb.c_sub", 8)} AS pdot
         |  FROM (SELECT * FROM vs WHERE vec_id < 8) q
         |  JOIN codebook cb ON cb.m = q.m),
         |scored AS (
         |  SELECT q_id, n_id,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      array_agg(pdot ORDER BY m)), (acc, v) -> acc + v) AS score
         |  FROM codes JOIN lut USING (m, c_id)
         |  WHERE q_id <> n_id GROUP BY q_id, n_id),
         |ranked AS (
         |  SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
         |  FROM scored)""".stripMargin

  private lazy val pqOracleSql: String =
    s"""$pqRankedCtes
         |SELECT q_id, n_id, rank FROM ranked WHERE rank <= 3""".stripMargin

  /** ADC top-10 shortlist, exact-cosine re-rank to top-3 — mirrors
    * [[pqTopKRerank]] (same shortlist CTEs, then full-precision cosine
    * over only the shortlisted (q, n) pairs).
    */
  private lazy val pqRerankOracleSql: String =
    s"""$pqRankedCtes,
         |shortlist AS (SELECT q_id, n_id FROM ranked WHERE rank <= 10),
         |rerank AS (
         |  SELECT s.q_id, s.n_id, ${cosSql("qe.embedding", "ne.embedding")} AS cos
         |  FROM shortlist s
         |  JOIN embeddings ne ON ne.vec_id = s.n_id
         |  JOIN embeddings qe ON qe.vec_id = s.q_id),
         |rr AS (
         |  SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |  FROM rerank)
         |SELECT q_id, n_id, rank FROM rr WHERE rank <= 3""".stripMargin

  /** Greedy-rounds tail shared by the brute and stored MMR oracles
    * (k=5, λ=0.5): the caller's CTEs must define
    * `cands`(q_id, n_id, rel, n_emb) — the shortlist semantics differ,
    * the diversification must not.
    */
  private def mmrUnrolledSql(candsCtes: String): String = {
    val k = 5
    val rounds = (2 to k).map { r =>
      s"""s$r AS (
         |  SELECT q_id, n_id, CAST($r AS BIGINT) AS pick_rank FROM (
         |    SELECT p.q_id, p.n_id, row_number() OVER (
         |      PARTITION BY p.q_id
         |      ORDER BY 0.5 * p.rel - 0.5 * p.pen DESC, p.n_id) AS pr
         |    FROM (
         |      SELECT cn.q_id, cn.n_id, cn.rel, max(s.sim) AS pen
         |      FROM cands cn
         |      JOIN sel${r - 1} v ON v.q_id = cn.q_id
         |      JOIN sims s ON s.q_id = cn.q_id AND s.a = cn.n_id
         |        AND s.b = v.n_id
         |      WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} z
         |                        WHERE z.q_id = cn.q_id AND z.n_id = cn.n_id)
         |      GROUP BY cn.q_id, cn.n_id, cn.rel) p)
         |  WHERE pr = 1),
         |sel$r AS (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM s$r)""".stripMargin
    }.mkString(",\n")
    s"""$candsCtes,
       |sims AS (
       |  SELECT x.q_id, x.n_id AS a, y.n_id AS b,
       |    ${cosSql("x.n_emb", "y.n_emb")} AS sim
       |  FROM cands x JOIN cands y ON x.q_id = y.q_id AND x.n_id <> y.n_id),
       |sel1 AS (
       |  SELECT q_id, n_id, CAST(1 AS BIGINT) AS pick_rank FROM (
       |    SELECT q_id, n_id, row_number() OVER (
       |      PARTITION BY q_id ORDER BY rel DESC, n_id) AS pr
       |    FROM cands) WHERE pr = 1),
       |$rounds
       |SELECT q_id, n_id, pick_rank FROM sel$k""".stripMargin
  }

  /** Unrolled greedy MMR mirroring [[mmrTopK]] (c=16, k=5, λ=0.5). */
  private lazy val mmrOracleSql: String = mmrUnrolledSql(
    s"""WITH q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |  WHERE vec_id < 8),
       |base AS (SELECT vec_id AS n_id, embedding AS n_emb FROM embeddings),
       |scored AS (
       |  SELECT q_id, n_id, ${cosSql("q_emb", "n_emb")} AS rel, n_emb
       |  FROM base JOIN q ON q_id <> n_id),
       |cands AS (
       |  SELECT q_id, n_id, rel, n_emb FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY q_id ORDER BY rel DESC, n_id) AS rk
       |    FROM scored) WHERE rk <= 16)""".stripMargin)

  /** [[mmrTopKStored]]'s oracle: the shortlist is the IVF probe
    * (corpus assigned to nearest centroid, queries probing their
    * nProbe=2 nearest clusters), then the SAME greedy rounds.
    */
  private lazy val mmrStoredOracleSql: String = mmrUnrolledSql(
    s"""WITH cent AS (
       |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
       |  WHERE vec_id % 40 = 0),
       |assigned AS (
       |  SELECT vec_id, embedding, c_id AS cluster FROM (
       |    SELECT e.vec_id, e.embedding, cent.c_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "cent.c_emb")} DESC, cent.c_id) AS arank
       |    FROM embeddings e CROSS JOIN cent)
       |  WHERE arank = 1),
       |qp AS (
       |  SELECT q_id, q_emb, c_id AS q_probe FROM (
       |    SELECT e.vec_id AS q_id, e.embedding AS q_emb, cent.c_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "cent.c_emb")} DESC, cent.c_id) AS arank
       |    FROM embeddings e CROSS JOIN cent WHERE e.vec_id < 8)
       |  WHERE arank <= 2),
       |scored AS (
       |  SELECT q_id, a.vec_id AS n_id,
       |    ${cosSql("q_emb", "a.embedding")} AS rel, a.embedding AS n_emb
       |  FROM assigned a JOIN qp ON a.cluster = q_probe AND q_id <> a.vec_id),
       |cands AS (
       |  SELECT q_id, n_id, rel, n_emb FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY q_id ORDER BY rel DESC, n_id) AS rk
       |    FROM scored) WHERE rk <= 16)""".stripMargin)

  /** `candFilter` (DuckDB boolean over the `mt` metadata alias)
    * restricts candidates BEFORE ranking — the oracle twin of the
    * filtered stored probes' filter-then-rank contract. */
  private def ivfOracleSql(candFilter: Option[String] = None): String = {
    val mj = candFilter.fold("")(f =>
      s"\n  |  JOIN embeddings mt ON mt.vec_id = a.vec_id AND ($f)"
        .stripMargin)
    s"""WITH cent AS (
       |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id % 40 = 0),
       |assigned AS (
       |  SELECT vec_id, embedding, c_id AS cluster FROM (
       |    SELECT e.vec_id, e.embedding, cent.c_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "cent.c_emb")} DESC, cent.c_id) AS arank
       |    FROM embeddings e CROSS JOIN cent)
       |  WHERE arank = 1),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, cluster AS q_cluster
       |      FROM assigned WHERE vec_id < 8),
       |scored AS (
       |  SELECT q_id, a.cluster, a.vec_id AS n_id,
       |    ${cosSql("q_emb", "a.embedding")} AS cos
       |  FROM assigned a$mj
       |  JOIN q ON a.cluster = q_cluster AND q_id <> a.vec_id),
       |ranked AS (
       |  SELECT q_id, cluster, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
       |  FROM scored)
       |SELECT q_id, cluster, n_id, rank FROM ranked WHERE rank <= 3""".stripMargin
  }

  /** IVF-PQ oracle CTE chain up through `ranked`: the ivfOracleSql
    * cluster assignment composed with the pqOracleSql coding/LUT
    * chain — candidates restricted to the query's own cluster
    * (nProbe=1), scored by the ORDER-PINNED ADC fold. Shared by the
    * inline, stored, lifecycle, and rerank variants.
    */
  private def ivfPqRankedCtes(candFilter: Option[String] = None): String = {
    val mj = candFilter.fold("")(f =>
      s"\n  |  JOIN embeddings mt ON mt.vec_id = cc.n_id AND ($f)"
        .stripMargin)
    s"""WITH cent AS (
       |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
       |  WHERE vec_id % 40 = 0),
       |assigned AS (
       |  SELECT vec_id, c_id AS cluster FROM (
       |    SELECT e.vec_id, cent.c_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "cent.c_emb")} DESC, cent.c_id) AS arank
       |    FROM embeddings e CROSS JOIN cent)
       |  WHERE arank = 1),
       |ms AS (SELECT unnest(range(0, 8)) AS m),
       |codebook AS (
       |  SELECT m, c_id, list_slice(c_emb, m*8 + 1, m*8 + 8) AS c_sub
       |  FROM cent CROSS JOIN ms),
       |vs AS (
       |  SELECT vec_id, m, list_slice(embedding, m*8 + 1, m*8 + 8) AS v_sub
       |  FROM embeddings CROSS JOIN ms),
       |codes AS (
       |  SELECT vec_id AS n_id, m, c_id FROM (
       |    SELECT vs.vec_id, vs.m, cb.c_id,
       |      row_number() OVER (PARTITION BY vs.vec_id, vs.m
       |        ORDER BY ${dotSql("v_sub", "c_sub", 8)} DESC, cb.c_id) AS r
       |    FROM vs JOIN codebook cb ON cb.m = vs.m)
       |  WHERE r = 1),
       |codesc AS (
       |  SELECT c.n_id, c.m, c.c_id, a.cluster
       |  FROM codes c JOIN assigned a ON a.vec_id = c.n_id),
       |q AS (SELECT vec_id AS q_id, cluster AS q_cluster
       |      FROM assigned WHERE vec_id < 8),
       |lut AS (
       |  SELECT qv.vec_id AS q_id, qv.m, cb.c_id,
       |    ${dotSql("qv.v_sub", "cb.c_sub", 8)} AS pdot
       |  FROM (SELECT * FROM vs WHERE vec_id < 8) qv
       |  JOIN codebook cb ON cb.m = qv.m),
       |scored AS (
       |  SELECT q.q_id, cc.cluster, cc.n_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      array_agg(l.pdot ORDER BY l.m)), (acc, v) -> acc + v) AS score
       |  FROM codesc cc$mj
       |  JOIN q ON cc.cluster = q.q_cluster AND q.q_id <> cc.n_id
       |  JOIN lut l ON l.q_id = q.q_id AND l.m = cc.m AND l.c_id = cc.c_id
       |  GROUP BY q.q_id, cc.cluster, cc.n_id),
       |ranked AS (
       |  SELECT q_id, cluster, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
       |  FROM scored)""".stripMargin
  }

  private lazy val ivfPqOracleSql: String =
    s"""${ivfPqRankedCtes()}
       |SELECT q_id, cluster, n_id, rank FROM ranked WHERE rank <= 3""".stripMargin

  /** Trained-codebook IVF-PQ oracle: the sim_kmeans integer-state
    * rounds keyed per subspace (2 unrolled Lloyd rounds), coding +
    * decoded-mean LUT + the order-pinned ADC fold. Every intermediate
    * is exact integers except the comparison/LUT divisions, which both
    * engines compute with identical op order. `trainEvery` > 1 mirrors
    * [[pqCodebookTrainedState]]'s sampled training: the Lloyd rounds'
    * assign/update inputs shrink to the `vec_id % trainEvery = 0`
    * sample while init codewords (st0) and the final coding pass stay
    * full-corpus. */
  private lazy val ivfPqTrainedOracleSql: String = ivfPqTrainedOracleSqlGen(1)

  private def ivfPqTrainedOracleSqlGen(trainEvery: Int): String = {
    val trainSrc = if (trainEvery == 1) "qv"
      else s"(SELECT * FROM qv WHERE vec_id % $trainEvery = 0)"
    def argmin(src: String, st: String): String =
      s"""SELECT vec_id, m, q, c_id,
         |    row_number() OVER (PARTITION BY vec_id, m
         |      ORDER BY CAST(a AS DOUBLE) / (cnt*cnt), c_id) AS rk
         |  FROM (
         |    SELECT v.vec_id, v.m, v.q, t.c_id, t.cnt,
         |      list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(range(1, 9), i ->
         |          (t.cnt*v.q[i] - t.s[i]) * (t.cnt*v.q[i] - t.s[i]))),
         |        (acc, x) -> acc + x) AS a
         |    FROM $src v JOIN $st t ON t.m = v.m)""".stripMargin
    def update(asg: String, n: Int): String =
      s"""cnt$n AS (SELECT m, cluster, CAST(count(*) AS BIGINT) AS cnt
         |  FROM $asg GROUP BY 1, 2),
         |sum$n AS (
         |  SELECT a.m, a.cluster, ix.i, CAST(sum(q[ix.i]) AS BIGINT) AS sx
         |  FROM $asg a, (SELECT unnest(range(1, 9)) AS i) ix
         |  GROUP BY 1, 2, 3),
         |st$n AS (
         |  SELECT s$n.m, s$n.cluster AS c_id,
         |    array_agg(sx ORDER BY i) AS s, any_value(cnt) AS cnt
         |  FROM sum$n s$n JOIN cnt$n
         |    ON cnt$n.m = s$n.m AND cnt$n.cluster = s$n.cluster
         |  GROUP BY s$n.m, s$n.cluster)""".stripMargin
    s"""WITH cent AS (
       |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
       |  WHERE vec_id % 40 = 0),
       |assigned AS (
       |  SELECT vec_id, c_id AS cluster FROM (
       |    SELECT e.vec_id, cent.c_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "cent.c_emb")} DESC, cent.c_id) AS arank
       |    FROM embeddings e CROSS JOIN cent)
       |  WHERE arank = 1),
       |ms AS (SELECT unnest(range(0, 8)) AS m),
       |vs AS (
       |  SELECT vec_id, m, list_slice(embedding, m*8 + 1, m*8 + 8) AS v_sub
       |  FROM embeddings CROSS JOIN ms),
       |qv AS (
       |  SELECT vec_id, m, list_transform(v_sub, x ->
       |    CAST(floor(CAST(x AS DOUBLE) * 4096 + 0.5) AS BIGINT)) AS q
       |  FROM vs),
       |st0 AS (SELECT m, vec_id AS c_id, q AS s, CAST(1 AS BIGINT) AS cnt
       |        FROM qv WHERE vec_id % 40 = 0),
       |r1 AS (${argmin(trainSrc, "st0")}),
       |asg1 AS (SELECT vec_id, m, q, c_id AS cluster FROM r1 WHERE rk = 1),
       |${update("asg1", 1)},
       |r2 AS (${argmin(trainSrc, "st1")}),
       |asg2 AS (SELECT vec_id, m, q, c_id AS cluster FROM r2 WHERE rk = 1),
       |${update("asg2", 2)},
       |rc AS (${argmin("qv", "st2")}),
       |codes AS (SELECT vec_id AS n_id, m, c_id FROM rc WHERE rk = 1),
       |codesc AS (
       |  SELECT c.n_id, c.m, c.c_id, a.cluster
       |  FROM codes c JOIN assigned a ON a.vec_id = c.n_id),
       |q AS (SELECT vec_id AS q_id, cluster AS q_cluster
       |      FROM assigned WHERE vec_id < 8),
       |lut AS (
       |  SELECT vq.vec_id AS q_id, vq.m, t.c_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(range(1, 9), i ->
       |        CAST(vq.v_sub[i] AS DOUBLE) * CAST(t.s[i] AS DOUBLE))),
       |      (acc, x) -> acc + x)
       |      / (CAST(t.cnt AS DOUBLE) * 4096.0) AS pdot
       |  FROM (SELECT * FROM vs WHERE vec_id < 8) vq
       |  JOIN st2 t ON t.m = vq.m),
       |scored AS (
       |  SELECT q.q_id, cc.cluster, cc.n_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      array_agg(l.pdot ORDER BY l.m)), (acc, v) -> acc + v) AS score
       |  FROM codesc cc
       |  JOIN q ON cc.cluster = q.q_cluster AND q.q_id <> cc.n_id
       |  JOIN lut l ON l.q_id = q.q_id AND l.m = cc.m AND l.c_id = cc.c_id
       |  GROUP BY q.q_id, cc.cluster, cc.n_id),
       |ranked AS (
       |  SELECT q_id, cluster, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
       |  FROM scored)
       |SELECT q_id, cluster, n_id, rank FROM ranked WHERE rank <= 3""".stripMargin
  }

  /** Filter-then-rank rewrite of the trained chain: the label
    * predicate restricts candidates BEFORE the ranking window (shared
    * by `sim_filtered_trained` and, composed with
    * [[trainedRerankTail]], the full production triple). */
  private lazy val trainedFilteredOracleSql: String = {
    val joinText = "JOIN q ON cc.cluster = q.q_cluster AND q.q_id <> cc.n_id"
    require(ivfPqTrainedOracleSql.contains(joinText),
      "trained filtered-oracle rewrite target drifted")
    ivfPqTrainedOracleSql.replace(joinText,
      joinText + "\n    AND cc.n_id IN " +
        "(SELECT vec_id FROM embeddings WHERE label % 2 = 0)")
  }

  /** Graft the exact-cosine rerank tail (top-10 shortlist → re-rank to
    * top-3) onto any trained-chain oracle ending in the standard
    * ranked SELECT — shared by `sim_trained_rerank` and the filtered
    * triple, so every rerank gate pins the identical refine. */
  private def trainedRerankTail(base: String): String = {
    val fin = "SELECT q_id, cluster, n_id, rank FROM ranked WHERE rank <= 3"
    require(base.endsWith(fin),
      "trained rerank-oracle rewrite target drifted")
    base.stripSuffix(fin) +
      s""",shortlist AS (SELECT q_id, n_id FROM ranked WHERE rank <= 10),
         |rerank AS (
         |  SELECT s.q_id, s.n_id, ${cosSql("qe.embedding", "ne.embedding")} AS cos
         |  FROM shortlist s
         |  JOIN embeddings ne ON ne.vec_id = s.n_id
         |  JOIN embeddings qe ON qe.vec_id = s.q_id),
         |rr AS (
         |  SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |  FROM rerank)
         |SELECT q_id, n_id, rank FROM rr WHERE rank <= 3""".stripMargin
  }

  /** ADC top-10 shortlist from the cluster-pruned chain, exact-cosine
    * re-rank to top-3 — mirrors [[ivfPqTopKRerankStored]] (the same
    * rerank tail pqRerankOracleSql pins for plain PQ). */
  private lazy val ivfPqRerankOracleSql: String =
    s"""${ivfPqRankedCtes()},
       |shortlist AS (SELECT q_id, n_id FROM ranked WHERE rank <= 10),
       |rerank AS (
       |  SELECT s.q_id, s.n_id, ${cosSql("qe.embedding", "ne.embedding")} AS cos
       |  FROM shortlist s
       |  JOIN embeddings ne ON ne.vec_id = s.n_id
       |  JOIN embeddings qe ON qe.vec_id = s.q_id),
       |rr AS (
       |  SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
       |  FROM rerank)
       |SELECT q_id, n_id, rank FROM rr WHERE rank <= 3""".stripMargin

  /** Residual IVF-PQ oracle (nProbe=1, so the query's probed cluster
    * is its own assigned cluster and its residual LUT is the query's
    * own resid row): the ivfPq chain with the coding moved to
    * v − centroid(v) — residuals in FLOAT32 (`e.embedding[i] −
    * c.c_emb[i]`, exactly Spark's `zip_with(v, c, x − y)`), the
    * residual codebook drawn from the `% 40 == 1` sample (the `== 0`
    * set IS the centroids — degenerate residuals). */
  private lazy val ivfPqrOracleSql: String =
    s"""WITH cent AS (
       |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
       |  WHERE vec_id % 40 = 0),
       |assigned AS (
       |  SELECT vec_id, c_id AS cluster FROM (
       |    SELECT e.vec_id, cent.c_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "cent.c_emb")} DESC, cent.c_id) AS arank
       |    FROM embeddings e CROSS JOIN cent)
       |  WHERE arank = 1),
       |resid AS (
       |  SELECT e.vec_id, a.cluster,
       |    list_transform(range(1, 65), i -> e.embedding[i] - c.c_emb[i]) AS r
       |  FROM embeddings e
       |  JOIN assigned a ON a.vec_id = e.vec_id
       |  JOIN cent c ON c.c_id = a.cluster),
       |ms AS (SELECT unnest(range(0, 8)) AS m),
       |codebook AS (
       |  SELECT m, vec_id AS c_id, list_slice(r, m*8 + 1, m*8 + 8) AS c_sub
       |  FROM resid CROSS JOIN ms WHERE vec_id % 40 = 1),
       |vs AS (
       |  SELECT vec_id, cluster, m, list_slice(r, m*8 + 1, m*8 + 8) AS v_sub
       |  FROM resid CROSS JOIN ms),
       |codes AS (
       |  SELECT vec_id AS n_id, cluster, m, c_id FROM (
       |    SELECT vs.vec_id, vs.cluster, vs.m, cb.c_id,
       |      row_number() OVER (PARTITION BY vs.vec_id, vs.m
       |        ORDER BY ${dotSql("v_sub", "c_sub", 8)} DESC, cb.c_id) AS rr
       |    FROM vs JOIN codebook cb ON cb.m = vs.m)
       |  WHERE rr = 1),
       |q AS (SELECT vec_id AS q_id, cluster AS q_cluster
       |      FROM assigned WHERE vec_id < 8),
       |lut AS (
       |  SELECT qv.vec_id AS q_id, qv.m, cb.c_id,
       |    ${dotSql("qv.v_sub", "cb.c_sub", 8)} AS pdot
       |  FROM (SELECT * FROM vs WHERE vec_id < 8) qv
       |  JOIN codebook cb ON cb.m = qv.m),
       |scored AS (
       |  SELECT q.q_id, cc.cluster, cc.n_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      array_agg(l.pdot ORDER BY l.m)), (acc, v) -> acc + v) AS score
       |  FROM codes cc
       |  JOIN q ON cc.cluster = q.q_cluster AND q.q_id <> cc.n_id
       |  JOIN lut l ON l.q_id = q.q_id AND l.m = cc.m AND l.c_id = cc.c_id
       |  GROUP BY q.q_id, cc.cluster, cc.n_id),
       |ranked AS (
       |  SELECT q_id, cluster, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
       |  FROM scored)
       |SELECT q_id, cluster, n_id, rank FROM ranked WHERE rank <= 3""".stripMargin

  private lazy val lshOracleSql: String =
    s"""WITH hp AS (
       |  SELECT vec_id AS h_id, embedding AS h_emb FROM embeddings
       |  WHERE vec_id >= 100 AND vec_id < 108),
       |sigs AS (
       |  SELECT e.vec_id,
       |    CAST(sum(CASE WHEN ${dotSql("e.embedding", "hp.h_emb")} > 0
       |      THEN CAST(pow(2, hp.h_id - 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM embeddings e CROSS JOIN hp GROUP BY e.vec_id),
       |bucketed AS (
       |  SELECT e.vec_id, e.embedding, s.bucket FROM embeddings e
       |  JOIN sigs s ON s.vec_id = e.vec_id),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket AS q_bucket
       |      FROM bucketed WHERE vec_id < 8),
       |scored AS (
       |  SELECT q_id, b.bucket, b.vec_id AS n_id,
       |    ${cosSql("q_emb", "b.embedding")} AS cos
       |  FROM bucketed b JOIN q ON b.bucket = q_bucket AND q_id <> b.vec_id),
       |ranked AS (
       |  SELECT q_id, bucket, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
       |  FROM scored)
       |SELECT q_id, bucket, n_id, rank FROM ranked WHERE rank <= 3""".stripMargin

  private lazy val lshMultiProbeOracleSql: String =
    s"""WITH hp AS (
       |  SELECT vec_id AS h_id, embedding AS h_emb FROM embeddings
       |  WHERE vec_id >= 100 AND vec_id < 108),
       |sigs AS (
       |  SELECT e.vec_id,
       |    CAST(sum(CASE WHEN ${dotSql("e.embedding", "hp.h_emb")} > 0
       |      THEN CAST(pow(2, hp.h_id - 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM embeddings e CROSS JOIN hp GROUP BY e.vec_id),
       |bucketed AS (
       |  SELECT e.vec_id, e.embedding, s.bucket FROM embeddings e
       |  JOIN sigs s ON s.vec_id = e.vec_id),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket AS q_bucket
       |      FROM bucketed WHERE vec_id < 8),
       |probes AS (
       |  SELECT q_id, q_emb,
       |    xor(q_bucket, CAST(CASE WHEN i = -1 THEN 0 ELSE pow(2, i) END AS BIGINT))
       |      AS q_probe
       |  FROM q CROSS JOIN (SELECT unnest(range(-1, 8)) AS i)),
       |scored AS (
       |  SELECT q_id, b.bucket, b.vec_id AS n_id,
       |    ${cosSql("q_emb", "b.embedding")} AS cos
       |  FROM bucketed b JOIN probes p ON b.bucket = p.q_probe AND p.q_id <> b.vec_id),
       |ranked AS (
       |  SELECT q_id, bucket, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
       |  FROM scored)
       |SELECT q_id, bucket, n_id, rank FROM ranked WHERE rank <= 3""".stripMargin

  def oracle: Map[String, String] = Map(
    // two Lloyd iterations unrolled; integer state (Σq, cnt) and the
    // ‖cnt·q − s‖²/cnt² metric keep every intermediate exact — see
    // kmeansAssign's scaladoc
    "sim_kmeans" ->
      s"""WITH qv AS (
         |  SELECT vec_id, list_transform(range(1, 65), i ->
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 4096 + 0.5) AS BIGINT)) AS q
         |  FROM embeddings),
         |st0 AS (SELECT vec_id AS c_id, q AS s, CAST(1 AS BIGINT) AS cnt
         |        FROM qv WHERE vec_id % 40 = 0),
         |r1 AS (
         |  SELECT vec_id, q, c_id,
         |    CAST(a AS DOUBLE) / (cnt*cnt) AS d,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY CAST(a AS DOUBLE) / (cnt*cnt), c_id) AS rk
         |  FROM (
         |    SELECT vec_id, q, c_id, cnt,
         |      list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(range(1, 65), i ->
         |          (cnt*q[i] - s[i]) * (cnt*q[i] - s[i]))),
         |        (acc, v) -> acc + v) AS a
         |    FROM qv CROSS JOIN st0)),
         |asg1 AS (SELECT vec_id, q, c_id AS cluster FROM r1 WHERE rk = 1),
         |cnt1 AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cnt
         |         FROM asg1 GROUP BY cluster),
         |sum1 AS (
         |  SELECT cluster, i, CAST(sum(q[i]) AS BIGINT) AS sx
         |  FROM asg1, (SELECT unnest(range(1, 65)) AS i) GROUP BY cluster, i),
         |st1 AS (
         |  SELECT s1.cluster AS c_id, array_agg(sx ORDER BY i) AS s, any_value(cnt) AS cnt
         |  FROM sum1 s1 JOIN cnt1 ON s1.cluster = cnt1.cluster
         |  GROUP BY s1.cluster),
         |r2 AS (
         |  SELECT vec_id, c_id,
         |    CAST(a AS DOUBLE) / (cnt*cnt) AS d,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY CAST(a AS DOUBLE) / (cnt*cnt), c_id) AS rk
         |  FROM (
         |    SELECT vec_id, c_id, cnt,
         |      list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(range(1, 65), i ->
         |          (cnt*q[i] - s[i]) * (cnt*q[i] - s[i]))),
         |        (acc, v) -> acc + v) AS a
         |    FROM qv CROSS JOIN st1))
         |SELECT vec_id, c_id AS cluster, d FROM r2 WHERE rk = 1""".stripMargin,

    // same affine code / dequantize / ADC-shortlist / exact-rerank
    // chain as sq8TopK; floor((x−mn)/(mx−mn)·255+0.5) is a fixed-order
    // IEEE chain so codes are bit-identical cross-engine
    "sim_sq8" ->
      s"""WITH st AS (
         |  SELECT i, CAST(min(embedding[i]) AS DOUBLE) AS mn,
         |    CAST(max(embedding[i]) AS DOUBLE) AS mx
         |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) GROUP BY i),
         |sta AS (
         |  SELECT array_agg(mn ORDER BY i) AS mns, array_agg(mx ORDER BY i) AS mxs
         |  FROM st),
         |coded AS (
         |  SELECT vec_id AS n_id, embedding AS n_emb,
         |    list_transform(range(1, 65), i ->
         |      mns[i] + floor((CAST(embedding[i] AS DOUBLE) - mns[i])
         |        / (mxs[i] - mns[i]) * 255 + 0.5) / 255 * (mxs[i] - mns[i])) AS dec
         |  FROM embeddings CROSS JOIN sta),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
         |      WHERE vec_id < 8),
         |scored AS (
         |  SELECT q_id, n_id, n_emb, q_emb, ${dotSql("q_emb", "dec")} AS adc
         |  FROM coded JOIN q ON q_id <> n_id),
         |short AS (
         |  SELECT q_id, n_id, n_emb, q_emb,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS srank
         |  FROM scored),
         |rr AS (
         |  SELECT q_id, n_id, ${cosSql("q_emb", "n_emb")} AS cos
         |  FROM short WHERE srank <= 10),
         |ranked AS (
         |  SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |  FROM rr)
         |SELECT q_id, n_id, rank FROM ranked WHERE rank <= 3""".stripMargin,

    "sim_lsh_multiprobe" -> lshMultiProbeOracleSql,
    "sim_topk" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
         |c AS (SELECT vec_id AS n_id, embedding AS n_emb FROM embeddings),
         |scored AS (
         |  SELECT q_id, n_id, ${cosSql("q_emb", "n_emb")} AS cos
         |  FROM c JOIN q ON q_id <> n_id),
         |ranked AS (
         |  SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |  FROM scored)
         |SELECT q_id, n_id, rank FROM ranked WHERE rank <= 5""".stripMargin,

    "sim_range" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
         |c AS (SELECT vec_id AS n_id, embedding AS n_emb FROM embeddings),
         |scored AS (
         |  SELECT q_id, n_id, ${cosSql("q_emb", "n_emb")} AS cos
         |  FROM c JOIN q ON q_id <> n_id)
         |SELECT q_id, n_id FROM scored WHERE cos >= 0.25""".stripMargin,

    "sim_mmr" -> mmrOracleSql,
    "sim_mmr_stored" -> mmrStoredOracleSql,

    "sim_ivf" -> ivfOracleSql(),
    // filter-then-rank: the label predicate restricts CANDIDATES (the
    // queries are probe inputs, not index members — q stays unfiltered)
    "sim_filtered" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
         |c AS (SELECT vec_id AS n_id, embedding AS n_emb FROM embeddings
         |      WHERE label % 2 = 0),
         |scored AS (
         |  SELECT q_id, n_id, ${cosSql("q_emb", "n_emb")} AS cos
         |  FROM c JOIN q ON q_id <> n_id),
         |ranked AS (
         |  SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |  FROM scored)
         |SELECT q_id, n_id, rank FROM ranked WHERE rank <= 5""".stripMargin,
    "sim_filtered_stored" -> ivfOracleSql(Some("mt.label % 2 = 0")),
    "sim_filtered_ivfpq" ->
      s"""${ivfPqRankedCtes(Some("mt.label % 2 = 0"))}
         |SELECT q_id, cluster, n_id, rank FROM ranked WHERE rank <= 3""".stripMargin,
    "sim_filtered_rerank" ->
      s"""${ivfPqRankedCtes(Some("mt.label % 2 = 0"))},
         |shortlist AS (SELECT q_id, n_id FROM ranked WHERE rank <= 10),
         |rerank AS (
         |  SELECT s.q_id, s.n_id, ${cosSql("qe.embedding", "ne.embedding")} AS cos
         |  FROM shortlist s
         |  JOIN embeddings ne ON ne.vec_id = s.n_id
         |  JOIN embeddings qe ON qe.vec_id = s.q_id),
         |rr AS (
         |  SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |  FROM rerank)
         |SELECT q_id, n_id, rank FROM rr WHERE rank <= 3""".stripMargin,

    "sim_lsh" -> lshOracleSql,

    "sim_ivf_multiprobe" ->
      s"""WITH cent AS (
         |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id % 40 = 0),
         |ranked AS (
         |  SELECT e.vec_id, e.embedding, cent.c_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosSql("e.embedding", "cent.c_emb")} DESC, cent.c_id) AS arank
         |  FROM embeddings e CROSS JOIN cent),
         |assigned AS (
         |  SELECT vec_id, embedding, c_id AS cluster FROM ranked WHERE arank = 1),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, c_id AS q_probe
         |      FROM ranked WHERE vec_id < 8 AND arank <= 2),
         |scored AS (
         |  SELECT q_id, a.cluster, a.vec_id AS n_id,
         |    ${cosSql("q_emb", "a.embedding")} AS cos
         |  FROM assigned a JOIN q ON a.cluster = q_probe AND q_id <> a.vec_id),
         |rankedq AS (
         |  SELECT q_id, cluster, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |  FROM scored)
         |SELECT q_id, cluster, n_id, rank FROM rankedq WHERE rank <= 3""".stripMargin,

    // the stored probes share the recompute variants' oracles verbatim:
    // persisting the index must not change a single result row
    "sim_ivf_stored" -> ivfOracleSql(),
    "sim_lsh_stored" -> lshOracleSql,
    // centroids stay the FULL corpus's (frozen at build); only the
    // candidate set shrinks to survivors ∪ restored — queries are
    // probe inputs, not index members, so q stays unfiltered
    "sim_ivf_deleted" -> {
      val joinText =
        "FROM assigned a\n" +
          "  JOIN q ON a.cluster = q_cluster AND q_id <> a.vec_id),"
      val base = ivfOracleSql()
      require(base.contains(joinText),
        "sim_ivf_deleted oracle rewrite target drifted")
      base.replace(joinText,
        "FROM assigned a\n" +
          "  JOIN q ON a.cluster = q_cluster AND q_id <> a.vec_id\n" +
          "  WHERE a.vec_id % 9 <> 0 OR a.vec_id % 18 = 0),")
    },

    // same subspace slicing, max-inner-product coding, and ORDER-PINNED
    // partial-dot fold as pqTopK (array_agg(... ORDER BY m) + list_reduce
    // mirrors sort_array(collect_list) + aggregate); the stored probe
    // shares it verbatim — persisting the codes must not change a row
    "sim_pq" -> pqOracleSql,
    "sim_pq_stored" -> pqOracleSql,
    "sim_pq_rerank" -> pqRerankOracleSql,
    // same ADC chain; the candidate codes shrink to the served set
    // (survivors ∪ restored) — the codebook stays the full corpus's
    // (frozen at build; every % 40 == 0 source vector is even)
    "sim_pq_deleted" -> pqOracleSql.replace(
      "WHERE q_id <> n_id GROUP BY q_id, n_id),",
      "WHERE q_id <> n_id AND (n_id % 9 <> 0 OR n_id % 18 = 0)\n" +
        "  GROUP BY q_id, n_id),"),

    // one oracle for the inline AND stored IVF-PQ probes (persisting
    // the cluster-partitioned codes must not change a row); the
    // lifecycle variant shrinks only the candidate set to
    // survivors ∪ restored — centroids and codebook stay the full
    // corpus's (frozen; every % 40 == 0 source vector is even)
    "sim_ivfpq" -> ivfPqOracleSql,
    "sim_ivfpq_trained" -> ivfPqTrainedOracleSql,
    "sim_ivfpq_trained_stored" -> ivfPqTrainedOracleSql,
    // the sampled trainer shares the whole chain; only the Lloyd
    // rounds' input set shrinks to the vec_id % 5 = 0 sample
    "sim_ivfpq_trained_sampled" -> ivfPqTrainedOracleSqlGen(5),
    // trained-ADC top-10 shortlist, exact-cosine re-rank to top-3 —
    // the ivfPqRerankOracleSql tail grafted onto the trained chain
    "sim_trained_rerank" -> trainedRerankTail(ivfPqTrainedOracleSql),
    // filter-then-rank over the trained codes: the label predicate
    // restricts CANDIDATES before the ranking window (queries are
    // probe inputs, not index members — q stays unfiltered)
    "sim_filtered_trained" -> trainedFilteredOracleSql,
    // the full production triple: both rewrites composed — the
    // predicate shrinks the shortlist candidates, the rerank tail
    // refines the c=10 survivors
    "sim_filtered_trained_rerank" ->
      trainedRerankTail(trainedFilteredOracleSql),
    "sim_ivfpq_stored" -> ivfPqOracleSql,
    "sim_ivfpq_rerank" -> ivfPqRerankOracleSql,
    "sim_ivfpqr" -> ivfPqrOracleSql,
    "sim_ivfpqr_stored" -> ivfPqrOracleSql,
    "sim_ivfpq_deleted" -> ivfPqOracleSql.replace(
      "JOIN q ON cc.cluster = q.q_cluster AND q.q_id <> cc.n_id",
      "JOIN q ON cc.cluster = q.q_cluster AND q.q_id <> cc.n_id\n" +
        "    AND (cc.n_id % 9 <> 0 OR cc.n_id % 18 = 0)"),

    "sim_knn_join" ->
      s"""WITH cent AS (
         |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
         |  WHERE vec_id % 40 = 0),
         |ranked AS (
         |  SELECT e.vec_id, e.embedding, cent.c_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosSql("e.embedding", "cent.c_emb")} DESC, cent.c_id) AS arank
         |  FROM embeddings e CROSS JOIN cent),
         |assigned AS (
         |  SELECT vec_id, embedding, c_id AS cluster FROM ranked WHERE arank = 1),
         |scored AS (
         |  SELECT a.vec_id, a.cluster, b.vec_id AS n_id,
         |    ${cosSql("a.embedding", "b.embedding")} AS cos
         |  FROM assigned a JOIN assigned b
         |    ON a.cluster = b.cluster AND a.vec_id <> b.vec_id),
         |rankedk AS (
         |  SELECT vec_id, cluster, n_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, n_id) AS rank
         |  FROM scored)
         |SELECT vec_id, cluster, n_id, rank FROM rankedk WHERE rank <= 3""".stripMargin,

    "d_semdedup" ->
      s"""WITH cent AS (
         |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
         |  WHERE vec_id % 40 = 0),
         |ranked AS (
         |  SELECT e.vec_id, e.embedding, cent.c_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosSql("e.embedding", "cent.c_emb")} DESC, cent.c_id) AS arank
         |  FROM embeddings e CROSS JOIN cent),
         |assigned AS (
         |  SELECT vec_id, embedding, c_id AS cluster FROM ranked WHERE arank = 1),
         |dropped AS (
         |  SELECT DISTINCT b.vec_id AS b_id
         |  FROM assigned a JOIN assigned b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.4)
         |SELECT vec_id, cluster FROM assigned
         |WHERE vec_id NOT IN (SELECT b_id FROM dropped)""".stripMargin,

    "d_embed_dup" ->
      s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  ${cosSql("a.embedding", "b.embedding")} AS cos
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.4""".stripMargin
  )
}
