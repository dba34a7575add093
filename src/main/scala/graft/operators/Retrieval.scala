package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.functions.TextFunctions._

/** Lexical retrieval over the document corpus: an inverted index
  * (term → postings), conjunctive (AND) search served from a STORED
  * bucket-partitioned index, and BM25 ranked retrieval — the sparse
  * complement of the dense-ANN tier in [[Similarity]] (production
  * retrieval stacks run both and fuse).
  *
  * Index layout for 100 TB: postings are written
  * `partitionBy(bucket)` where bucket = a stable hash of the term —
  * the lexical twin of [[Similarity]]'s IVF/LSH cluster partitioning.
  * A query probes only its own terms' bucket partitions (static
  * partition pruning, asserted in PlanSpec), so serving cost scales
  * with the query's posting lists, not the corpus. The index build is
  * ONE map-side-combinable aggregation over the exploded token
  * stream; document-length statistics ride the same pass.
  *
  * BM25 is integerized the way this repo's other rankers are
  * ([[TextAnalysis]]'s tf-idf): rational idf `(N−df+0.5)/(df+0.5)` —
  * the Robertson–Sparck-Jones numerator without the ln (the ln is
  * monotone, so per-term score ORDER is preserved; the no-log form
  * keeps every value an exact single-rounded IEEE chain, which a
  * cross-engine hash gate needs) — and per-term scores quantized to
  * micro-units BEFORE the per-document sum, so the aggregate is an
  * exact BIGINT sum, independent of accumulation order.
  */
object Retrieval {

  val K1 = 1.2
  val B = 0.75
  val Buckets = 64

  /** Inverted index: one row per (term, doc_id) with the term
    * frequency. (term, doc_id) is unique by construction — df(term) is
    * a plain count and conjunctive matching a plain group-count.
    */
  def postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** POSITIONAL inverted index: the postings rows plus the sorted
    * 1-based token positions of each (term, doc) occurrence — the
    * access path phrase and proximity queries need. The positions
    * array is bounded by the DOCUMENT's token count (it is per
    * (term, doc), never per term), so no row blows up on a hot term;
    * hot terms cost more ROWS, which is exactly what the bucket
    * partitioning spreads. tf = |positions| rides for free, so this
    * strictly supersedes [[postings]] as the stored layout — readers
    * that don't need positions prune the column at the parquet scan.
    */
  def positionalPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "term")))
      .groupBy(col("term"), col("doc_id"))
      .agg(sort_array(collect_list(col("pos") + 1)).as("positions"))
      .select(col("term"), col("doc_id"),
        size(col("positions")).cast("long").as("tf"), col("positions"))

  /** Stable term → bucket assignment, shared by writer and prober.
    * md5-derived (not Spark's murmur) so the bucket of a term is
    * reproducible by ANY engine reading the index layout.
    */
  private def bucketOf(term: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit("idx-"), term)), 1, 8), 16, 10)
      .cast("long") % Buckets

  /** Driver-side twin of [[bucketOf]] for building the probe's static
    * partition filter (same md5-hex-prefix hash, bit-identical). */
  private def bucketOfLocal(term: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"idx-$term".getBytes("UTF-8"))
    val hex = d.take(4).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16) % Buckets
  }

  /** Write the bucket-partitioned POSITIONAL postings index + a 1-row
    * corpus stats sidecar (N, total token count) the BM25 prober needs.
    * The positions column adds ~doc-length ints per posting row;
    * non-positional readers never pay for it (parquet column pruning).
    */
  def writePostingsIndex(docs: DataFrame, path: String,
                         buckets: Int = Buckets): Unit = {
    val spark = docs.sparkSession
    // in-place REBUILD over an index that already has versioned state
    // (a LATEST pointer, deltas, or tombstones): the new index is
    // written as the NEXT base generation and the pointer flipped with
    // a minDelta fencing everything that existed before — readers keep
    // serving the old corpus until the atomic flip, and vacuum later
    // reclaims the superseded state. (Before this, a rebuild landed in
    // the legacy root layout: the live pointer kept serving the STALE
    // corpus, and the next vacuum deleted the fresh build as debris.)
    val fs = graft.util.IndexCommit.fs(spark, path)
    val versioned =
      fs.exists(new org.apache.hadoop.fs.Path(s"$path/LATEST")) ||
        graft.util.IndexCommit.deltaDirs(spark, path).nonEmpty ||
        graft.util.IndexCommit.tombDirs(spark, path).nonEmpty
    // versioned rebuilds write into a staging dir (invisible to
    // vacuum's dead-scan) and promote at the flip, like the compactor
    val (dir, commitGen) =
      if (versioned) {
        val gen = s"base_${graft.util.IndexCommit.nextBaseId(spark, path)}"
        (graft.util.IndexCommit.stageBase(spark, path, gen), Some(gen))
      } else (path, None)
    val post = positionalPostings(docs).withColumn("bucket", bucketOf(col("term")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    writeDict(post, s"$dir/dict")
    writeBucketed(post, s"$dir/postings")
    post.unpersist(blocking = false)
    val dl = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("dl"))
    dl.write.mode("overwrite").parquet(s"$dir/doclens")
    writeStats(dl, s"$dir/stats")
    commitGen.foreach { gen =>
      graft.util.IndexCommit.promoteStaged(spark, path, gen)
      graft.util.IndexCommit.commit(spark, path, gen,
        graft.util.IndexCommit.nextDeltaId(spark, path))
    }
  }

  /** Term-dictionary sidecar (term, df, bucket) — vocab-sized, the
    * Lucene term-dict role: prefix/wildcard queries resolve their
    * expansion set (and its bucket list) here instead of scanning the
    * corpus-sized postings. df is the generation's posting count for
    * the term (an UPPER bound once deletes exist — exact df always
    * comes from the fenced probe). */
  private def writeDict(post: DataFrame, dir: String): Unit =
    post.groupBy(col("term"), col("bucket"))
      .agg(count(lit(1)).as("df"))
      // partition-column inference narrows bucket to INT when `post`
      // was read back from a written generation (the compaction fold);
      // pin LONG so every generation's dict schema is identical
      .select(col("term"), col("df"), col("bucket").cast("long").as("bucket"))
      .write.mode("overwrite").parquet(dir)

  /** Bucket-partitioned write, degrading to ONE empty schema-carrying
    * file when the frame is empty: a zero-row `partitionBy` write
    * emits no parquet footer at all, bricking every later read of the
    * generation — the delete-everything-then-compact (purge) and
    * empty-micro-batch ingest paths both hit it. The empty file keeps
    * `bucket` as a data column; probes' bucket predicates still apply
    * (as data filters over zero rows). */
  private def writeBucketed(post: DataFrame, dir: String): Unit = {
    // persist around the emptiness check: `isEmpty` executes the
    // posting pipeline, and an uncached frame would recompute it for
    // the write (the compaction path passes the raw generation union;
    // the build/append paths pass an already-persisted frame, for
    // which this is a no-op)
    val p = post.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (p.isEmpty) p.coalesce(1).write.mode("overwrite").parquet(dir)
      else p.repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(dir)
    } finally p.unpersist(blocking = false)
  }

  /** 1-row corpus-stats sidecar (N docs, total tokens): what lets the
    * BM25 prober skip the O(N) doclens aggregation at serve time. */
  private def writeStats(dl: DataFrame, dir: String): Unit =
    dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
      .coalesce(1).write.mode("overwrite").parquet(dir)

  /** Union of the base + delta + tombstone stats rows, re-summed
    * (≤ generations rows — driver-trivial). A tombstone generation
    * carries a NEGATIVE stats row (−deleted docs, −their token count,
    * written at delete time from the then-live doclens), so the sum
    * stays the exact stats of the served corpus without an O(N)
    * doclens pass. Falls back to aggregating doclens for a
    * pre-stats-sidecar index layout. */
  private def allStats(spark: SparkSession, path: String): DataFrame = {
    val (base, minDelta) = graft.util.IndexCommit.resolve(spark, path)
    val statsP = new org.apache.hadoop.fs.Path(s"$base/stats")
    val fs = statsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(statsP))
      return allDoclens(spark, path)
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
    val gens = spark.read.parquet(s"$base/stats") +:
      (graft.util.IndexCommit.deltaDirs(spark, path, minDelta,
        commitSub = Some("postings")) ++
        graft.util.IndexCommit.tombDirs(spark, path, minDelta))
        .map(d => spark.read.parquet(s"$d/stats"))
    gens.reduce(_ unionAll _)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("tot")).as("tot"))
  }

  /** Every generation's term dictionary, unioned. A generation written
    * before the dict sidecar existed contributes its dictionary by a
    * one-off derivation from its own postings (correct, unpruned —
    * only legacy dirs pay it; the next compaction writes them a real
    * sidecar). */
  private def allDicts(spark: SparkSession, path: String): DataFrame = {
    val (baseDir, minDelta) = graft.util.IndexCommit.resolve(spark, path)
    val fs = graft.util.IndexCommit.fs(spark, path)
    def dictOf(dir: String): DataFrame = {
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/dict")))
        spark.read.parquet(s"$dir/dict")
      else
        spark.read.parquet(s"$dir/postings")
          .groupBy(col("term"), col("bucket"))
          .agg(count(lit(1)).as("df"))
          .select(col("term"), col("df"), col("bucket").cast("long").as("bucket"))
    }
    (baseDir +: graft.util.IndexCommit.deltaDirs(spark, path, minDelta,
        commitSub = Some("postings")))
      .map(dictOf).reduce(_ unionAll _)
  }

  /** Prefix (leading-wildcard) search from the STORED index — the
    * Lucene shape: the vocab-sized term dictionary resolves the
    * expansion set and its bucket list, then ONLY those buckets'
    * postings are probed (static partition pruning, like every other
    * stored probe). Returns per doc the number of distinct matching
    * terms and the total occurrences. Expansion is HARD-bounded: past
    * `maxExpansions` the call fails with instructions instead of
    * silently truncating recall (no silent caps). Tombstones fence at
    * the probe, so a stale dictionary entry costs at most a wasted
    * bucket read, never a wrong row.
    */
  def prefixSearchStored(spark: SparkSession, path: String, prefix: String,
                         maxExpansions: Int = 1024): DataFrame = {
    require(prefix.nonEmpty, "prefix search needs a non-empty prefix")
    val expansions = allDicts(spark, path)
      .filter(col("term").startsWith(prefix))
      .select(col("term"), col("bucket")).distinct()
      .take(maxExpansions + 1)
    require(expansions.length <= maxExpansions,
      s"prefix '$prefix' expands to more than $maxExpansions terms — " +
        "narrow the prefix or raise maxExpansions (a silent cap would " +
        "silently lose recall)")
    if (expansions.isEmpty)
      return spark.range(0).select(col("id").as("doc_id"),
        col("id").as("n_terms"), col("id").as("hits"))
    val buckets = expansions.map(_.getLong(1)).distinct.toSeq
    allPostings(spark, path)
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("term").startsWith(prefix))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("hits"))
  }

  /** Fuzzy (edit-distance) search from the STORED index — the
    * misspelled-query path the term dictionary exists for: resolve
    * every vocab term within `maxDist` edits of `term` against the
    * dict sidecar (of EVERY generation, so delta-appended vocabulary
    * expands too), then probe ONLY the expansion set's bucket
    * partitions, exactly like [[prefixSearchStored]]. Returns per doc
    * the distinct matching terms and total occurrences.
    *
    * The dict scan is vocab-sized, never corpus-sized, and is pruned
    * twice before the levenshtein compare runs: a length band
    * (|len−len(q)| ≤ maxDist) and the PassJoin pigeonhole — split the
    * query into maxDist+1 contiguous segments; at most maxDist edits
    * can each destroy one segment, so a term within range must contain
    * at least one segment VERBATIM (edits elsewhere only shift it) —
    * the segment trick [[Dedup.editDistanceJoin]] uses pair-wise,
    * applied here as a single-probe vocab filter. At 100 TB the vocab
    * is ~100M terms; the banded+pigeonholed survivors are thousands,
    * and only THEY pay the O(len²) compare. Expansion is hard-bounded
    * like prefix search: past `maxExpansions` the call fails with
    * instructions instead of silently truncating recall.
    */
  def fuzzySearchStored(spark: SparkSession, path: String, term: String,
                        maxDist: Int = 1,
                        maxExpansions: Int = 1024,
                        inlineTermLimit: Int = 64): DataFrame = {
    require(term.nonEmpty, "fuzzy search needs a non-empty term")
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val parts = maxDist + 1
    // the pigeonhole prefilter is sound only when every segment is
    // non-empty; a query shorter than maxDist+1 chars skips it (the
    // length band still bounds the compare set)
    val segPred =
      if (term.length < parts) lit(true)
      else {
        val base = term.length / parts
        val rem = term.length % parts
        val lens = Seq.tabulate(parts)(i => base + (if (i < rem) 1 else 0))
        lens.scanLeft(0)(_ + _).zip(lens)
          .map { case (off, l) => term.substring(off, off + l) }
          .map(sg => col("term").contains(sg)).reduce(_ || _)
      }
    val expansions = allDicts(spark, path)
      .filter(length(col("term"))
        .between(term.length - maxDist, term.length + maxDist))
      .filter(segPred)
      .filter(levenshtein(col("term"), lit(term)) <= maxDist)
      .select(col("term"), col("bucket")).distinct()
      .take(maxExpansions + 1)
    require(expansions.length <= maxExpansions,
      s"'$term'~$maxDist expands to more than $maxExpansions terms — " +
        "lower maxDist or raise maxExpansions (a silent cap would " +
        "silently lose recall)")
    if (expansions.isEmpty)
      return spark.range(0).select(col("id").as("doc_id"),
        col("id").as("n_terms"), col("id").as("hits"))
    val terms = expansions.map(_.getString(0)).toSeq
    val buckets = expansions.map(_.getLong(1)).distinct.toSeq
    val pruned = allPostings(spark, path)
      .filter(col("bucket").isin(buckets: _*))
    // a small expansion set inlines as a pushable In filter on the
    // postings scan; a LARGE one (tens of thousands of terms at wide
    // maxDist over a 100M-term vocab) would bloat the literal plan and
    // its analysis time with no pushdown payoff — past the limit the
    // set broadcast-semi-joins instead (same rows, O(1) plan size; the
    // bucket partition filter above still prunes the scan)
    val matched =
      if (terms.length <= inlineTermLimit)
        pruned.filter(col("term").isin(terms: _*))
      else {
        import spark.implicits._
        pruned.join(broadcast(terms.toDF("term")), Seq("term"), "left_semi")
      }
    matched
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("hits"))
  }

  /** Conjunctive (all-terms) search with the index built inline — the
    * storedless twin of [[conjunctiveSearchStored]] (identical rows;
    * the stored form only changes the access path). One exploded-token
    * aggregation, filtered to the query terms BEFORE the shuffle.
    */
  def conjunctiveSearch(docs: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "conjunctive search needs at least one term")
    val tcol = array(terms.map(lit): _*)
    postings(docs).filter(array_contains(tcol, col("term")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("hits"))
      .filter(col("n_terms") === terms.size)
      .select(col("doc_id"), col("hits"))
  }

  /** All postings generations of a stored index: the base build plus
    * any [[appendPostingsDelta]] generations, unioned. Each generation
    * is its own bucket-partitioned parquet dir, so a probe's bucket
    * filter pushes into EVERY generation's scan independently — an
    * append never degrades the pruning. Doc sets across generations
    * are disjoint by contract (append = new documents), so (term,
    * doc_id) stays unique without re-aggregation.
    */
  private def allPostings(spark: SparkSession, path: String): DataFrame =
    allGenerations(spark, path, "postings")

  /** Base + delta doc-length sidecars, unioned (same contract). */
  private def allDoclens(spark: SparkSession, path: String): DataFrame =
    allGenerations(spark, path, "doclens")

  /** Shared generation-union reader for a per-doc table (`postings` or
    * `doclens`): base + every live delta, with the tombstone fence
    * applied when the index has live [[deletePostingsDocs]] tombstones.
    * Delete-free indexes take the fence-free path — identical plans to
    * before deletes existed. */
  private def allGenerations(spark: SparkSession, path: String,
                             table: String): DataFrame = {
    val (baseDir, minDelta) = graft.util.IndexCommit.resolve(spark, path)
    val tombs = liveTombstones(spark, path, minDelta)
    def gen(dir: String, seq: Int): DataFrame = {
      val df = spark.read.parquet(s"$dir/$table")
      if (tombs.isEmpty) df else df.withColumn("_gseq", lit(seq))
    }
    // the base folds every generation < minDelta, so any LIVE tombstone
    // (id >= minDelta) is newer than every base row
    val base = gen(baseDir, minDelta - 1)
    val unioned = graft.util.IndexCommit
      .deltaDirs(spark, path, minDelta, commitSub = Some("postings"))
      .foldLeft(base) { (acc, d) =>
        acc.unionAll(gen(d, d.split('/').last.stripPrefix("delta_").toInt))
      }
    fenceTombstones(unioned, tombs)
  }

  /** All live tombstones of an index as (doc_id, _tseq) — one row per
    * deleted doc per delete generation. None when delete-free. */
  private def liveTombstones(spark: SparkSession, path: String,
                             minDelta: Int): Option[DataFrame] = {
    val dirs = graft.util.IndexCommit.tombDirs(spark, path, minDelta)
    if (dirs.isEmpty) None
    else Some(dirs.map { d =>
      val seq = d.split('/').last.stripPrefix("tomb_").toInt
      spark.read.parquet(s"$d/docs")
        .select(col("doc_id"), lit(seq).as("_tseq"))
    }.reduce(_ unionAll _))
  }

  /** Apply the tombstone fence to a generation-tagged frame: a row
    * from generation g survives unless a tombstone with seq > g names
    * its doc — so a doc re-appended AFTER its deletion (the upsert
    * pattern: [[deletePostingsDocs]] then [[appendPostingsDelta]])
    * serves its NEW version only. The tombstone side is broadcast: by
    * the compaction contract it is delta-sized (deletes since the last
    * fold), never corpus-sized — and the probe's bucket filters still
    * push below this join, so scans stay pruned. */
  private def fenceTombstones(df: DataFrame,
                              tombs: Option[DataFrame]): DataFrame =
    tombs match {
      case None => df
      case Some(ts) =>
        val mx = ts.groupBy(col("doc_id")).agg(max(col("_tseq")).as("_tmax"))
        // restore the ORIGINAL column order: the join key floats to the
        // front, and a compaction persisting that order would misalign
        // every later positional union against fresh generations
        // (caught by RetrievalIndexProps: fold-with-fence, append, probe)
        val cols = df.columns.filterNot(_ == "_gseq").map(col)
        df.join(broadcast(mx), Seq("doc_id"), "left")
          .filter(col("_tmax").isNull || col("_tmax") < col("_gseq"))
          .select(cols: _*)
    }

  /** Delete documents from a stored index as a TOMBSTONE generation —
    * the O(delta) twin of [[appendPostingsDelta]] for the other half
    * of corpus maintenance (takedowns, dedup-driven removals,
    * re-ingestion upserts). Nothing indexed is rewritten: the delete
    * writes the doc-id set plus a NEGATIVE stats row (−count, −total
    * tokens of the then-live victims), and probes fence matching rows
    * out at serve time. A later [[appendPostingsDelta]] of the same
    * doc_id serves the new version (generation ids are one sequence,
    * the fence compares them). [[compactPostingsIndex]] folds
    * tombstones into the next base and the fence cost disappears;
    * deleting a doc that is not live is a no-op. The `_COMMIT` marker
    * is written LAST — a crashed half-written delete fences nothing.
    */
  def deletePostingsDocs(spark: SparkSession, path: String,
                         docIds: DataFrame): Unit = {
    val next = graft.util.IndexCommit.nextDeltaId(spark, path)
    val dir = s"$path/tomb_$next"
    val keys = docIds.select(col("doc_id")).distinct()
    allDoclens(spark, path).join(keys, Seq("doc_id"), "left_semi")
      .agg((-count(lit(1))).as("n_docs"),
        (-coalesce(sum(col("dl")), lit(0L))).as("tot"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
    keys.write.mode("overwrite").parquet(s"$dir/docs")
    val fs = graft.util.IndexCommit.fs(spark, path)
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_COMMIT"), true).close()
  }

  /** Append NEW documents to a stored index as a delta generation —
    * the 100 TB maintenance story: an append-heavy corpus must not
    * rebuild its index. One generation = one bucket-partitioned
    * postings dir + doclens sidecar; probes union all generations and
    * their bucket filters prune each independently, so serving cost
    * grows with the DELTA count (compaction folds them — the same
    * split the GraphAr mutation log leaves to its compactor), never
    * with re-indexing cost. Caller contract: `docs` are documents not
    * present in any earlier generation.
    */
  def appendPostingsDelta(docs: DataFrame, path: String): Unit = {
    val next = graft.util.IndexCommit.nextDeltaId(docs.sparkSession, path)
    writePostingsDelta(docs, s"$path/delta_$next")
    maybeCompact(docs.sparkSession, path)
  }

  /** Opt-in auto-compaction cap, the index twin of the GraphAr log's
    * `spark.graft.maxStagedDeltas`: when a cap is set — the index's
    * own `_POLICY` file ([[graft.util.IndexCommit.setPolicy]], which
    * travels with the index and binds every writer) or, as fallback,
    * the session conf `spark.graft.maxIndexDeltas` — and the live
    * generation count (deltas + tombstones) reaches it, fold —
    * bounding the per-probe scan multiplicity of a continuously
    * appended index without a manual maintenance step. Compaction is
    * replay-safe even under a streaming ingest (folded generations and
    * their epoch tags stay on disk until an explicit
    * [[vacuumPostingsIndex]], which remains a stopped-stream
    * maintenance-window op). Neither set (default) = manual
    * compaction only.
    */
  private[graft] def maybeCompact(spark: SparkSession, path: String): Unit = {
    val cap = graft.util.IndexCommit.effectiveMaxDeltas(spark, path)
    if (cap <= 0) return
    val (_, minDelta) = graft.util.IndexCommit.resolve(spark, path)
    val live = graft.util.IndexCommit.deltaDirs(spark, path, minDelta,
        commitSub = Some("postings")).size +
      graft.util.IndexCommit.tombDirs(spark, path, minDelta).size
    if (live >= cap) compactPostingsIndex(spark, path)
  }

  /** Write one delta generation's tables into `dir` in COMMIT order:
    * sidecars first, postings LAST — `postings/_SUCCESS` is the
    * generation's visibility point ([[graft.util.IndexCommit.deltaDirs]]
    * filters on it), so a crashed append serves nothing and can be
    * retried in place (the [[graft.streaming.IndexIngest]] recovery
    * path). */
  private[graft] def writePostingsDelta(docs: DataFrame, dir: String): Unit = {
    val dl = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("dl"))
    dl.write.mode("overwrite").parquet(s"$dir/doclens")
    writeStats(dl, s"$dir/stats")
    val post = positionalPostings(docs)
      .withColumn("bucket", bucketOf(col("term")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    writeDict(post, s"$dir/dict")
    // sidecars written, postings (the visibility table) not yet: a
    // crash here leaves an INVISIBLE generation — serving unchanged,
    // vacuum-safe debris, retry-in-place. Driven deterministically by
    // MaintenanceKillPointSpec for the batch verb AND the streaming
    // sink (both route through this writer).
    graft.util.IndexCommit.at("append:pre-commit", dir)
    writeBucketed(post, s"$dir/postings")
    graft.util.IndexCommit.at("append:post-commit", dir)
    post.unpersist(blocking = false)
  }

  /** Fold every live delta generation back into one base — the
    * compaction that bounds serve-time scan count (each generation
    * adds one pruned scan per probe; the GraphAr mutation log leaves
    * the same job to its compactor). ATOMIC: the folded base is
    * written as a NEW `base_<n>` dir and the `LATEST` pointer flipped
    * over it ([[graft.util.IndexCommit]]); nothing the old pointer
    * referenced is touched, so a concurrent reader — even one
    * mid-scan — completes against intact files and sees identical
    * rows (the union-serving contract). Reclaim superseded
    * generations with [[vacuumPostingsIndex]] once in-flight readers
    * drain.
    */
  def compactPostingsIndex(spark: SparkSession, path: String): Unit = {
    val (_, minDelta) = graft.util.IndexCommit.resolve(spark, path)
    val deltas = graft.util.IndexCommit.deltaDirs(spark, path, minDelta,
      commitSub = Some("postings"))
    val tombs = graft.util.IndexCommit.tombDirs(spark, path, minDelta)
    if (deltas.isEmpty && tombs.isEmpty) return
    val post = allPostings(spark, path)
    val dl = allDoclens(spark, path)
    val gen = s"base_${graft.util.IndexCommit.nextBaseId(spark, path)}"
    // fold into a STAGING dir (outside vacuum's dead-scan name
    // classes) and promote to base_<n> only at the flip — a grace-0
    // vacuum concurrent with this write can never reclaim the fold
    val staged = graft.util.IndexCommit.stageBase(spark, path, gen)
    writeBucketed(post, s"$staged/postings")
    dl.write.mode("overwrite").parquet(s"$staged/doclens")
    writeStats(dl, s"$staged/stats")
    // the folded dict reflects the folded (live) postings exactly —
    // delete-staleness in df disappears at every fold
    writeDict(spark.read.parquet(s"$staged/postings"), s"$staged/dict")
    // tombstones share the delta id sequence, so one watermark fences
    // both kinds; the folded base holds only fenced (live) rows
    val foldedMax = (deltas ++ tombs)
      .map(_.split('_').last.toInt).max
    graft.util.IndexCommit.promoteStaged(spark, path, gen)
    graft.util.IndexCommit.commit(spark, path, gen, foldedMax + 1)
  }

  /** Delete every generation the live pointer no longer references
    * (superseded bases, folded deltas, the legacy root-level base).
    * Deferred from [[compactPostingsIndex]] so commit stays atomic
    * and concurrent-reader-safe; run after readers drain. */
  def vacuumPostingsIndex(spark: SparkSession, path: String): Unit =
    graft.util.IndexCommit.vacuum(spark, path,
      Seq("postings", "doclens", "stats", "dict"))

  /** Conjunctive (all-terms) search from the STORED index: probe ONLY
    * the query terms' bucket partitions, keep documents whose distinct
    * matched-term count equals the query size. `hits` = total matched
    * occurrences. The scan must show a bucket PartitionFilter — the
    * corpus-sized posting table is never read past the probed buckets.
    * Delta generations (if any) are probed with the same pruning.
    */
  def conjunctiveSearchStored(spark: SparkSession, path: String,
                              terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "conjunctive search needs at least one term")
    val post = allPostings(spark, path)
    val tcol = array(terms.map(lit): _*)
    val probed = post
      .filter(col("bucket").isin(terms.map(bucketOfLocal): _*))
      .filter(array_contains(tcol, col("term")))
    probed.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("hits"))
      .filter(col("n_terms") === terms.size)
      .select(col("doc_id"), col("hits"))
  }

  /** BM25 top-k over the corpus (index built inline; the stored probe
    * composes [[conjunctiveSearchStored]]'s pruned read with the same
    * scoring). Disjunctive: any matched term contributes.
    *
    * Per-term score, every fp op single-rounded in this fixed order
    * (mirrored verbatim in the oracle SQL):
    *   idf  = (N − df + 0.5) / (df + 0.5)
    *   tfn  = (tf · (k1+1)) / (tf + k1 · (1 − b + b · (dl / avgdl)))
    *   s_µ  = floor(idf · tfn · 1e6 + 0.5)
    * and score(doc) = Σ s_µ as an exact BIGINT.
    *
    * Scale shape: df/N/avgdl are one map-combinable pass; the scoring
    * join touches only the query terms' postings (broadcast the ≤|q|
    * df rows); top-k is a sort-limit, and the rank window runs on k
    * rows. Nothing reshuffles the corpus.
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int = 20): DataFrame = {
    // the dl and qpost arms re-derive postings lazily — measured faster
    // than an eager pin at every size (2M docs: 16.7 s lazy vs 23.3 s
    // eager): qpost's arm keeps its query-term pushdown and the full
    // posting table is never materialized. Past ad-hoc scale the answer
    // is the stored index ([[bm25TopKStored]]).
    val post = postings(docs)
    val dl = post.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val tcol = array(terms.map(lit): _*)
    bm25Rank(post.filter(array_contains(tcol, col("term"))), dl, k)
  }

  /** BM25 top-k served from the STORED index — hash-identical ranking
    * to [[bm25TopK]] (shared oracle text), but the corpus text is
    * never touched: query-term postings come from the probed bucket
    * partitions, document lengths and corpus stats from the doclens
    * sidecar written at build time. Serving cost = probed posting
    * lists + one O(N-doclens) stats pass — no tokenization, no
    * full-postings aggregation. Delta generations join in
    * transparently.
    */
  def bm25TopKStored(spark: SparkSession, path: String,
                     terms: Seq[String], k: Int = 20): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one term")
    val tcol = array(terms.map(lit): _*)
    val qpost = allPostings(spark, path)
      .filter(col("bucket").isin(terms.map(bucketOfLocal): _*))
      .filter(array_contains(tcol, col("term")))
      .select(col("term"), col("doc_id"), col("tf"))
    bm25Rank(qpost, allDoclens(spark, path), k,
      Some(allStats(spark, path)))
  }

  /** Shared BM25 scoring chain from a (term, doc_id, tf) query-posting
    * frame and a (doc_id, dl) length table: df per term (broadcast),
    * corpus stats (1-row broadcast), micro-quantized per-term scores
    * summed as exact BIGINTs — every fp op single-rounded in the
    * fixed order the oracle mirrors (see the object scaladoc).
    */
  private def bm25Rank(qpost: DataFrame, dl: DataFrame, k: Int,
                       statsOpt: Option[DataFrame] = None): DataFrame = {
    // stats from the sidecar when stored (skips the O(N) doclens agg
    // at serve time); recomputed from dl for the inline build. Both
    // are exact BIGINTs, so the scoring chain is bit-identical.
    val stats = statsOpt.getOrElse(
      dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot")))
    val df = qpost.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val avgdl = col("tot").cast("double") / col("n_docs").cast("double")
    val tfn = (col("tf").cast("double") * lit(K1 + 1.0)) /
      (col("tf").cast("double") +
        lit(K1) * (lit(1.0 - B) + lit(B) * (col("dl").cast("double") / avgdl)))
    val scored = qpost
      .join(broadcast(df), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        floor(idf * tfn * lit(1e6) + lit(0.5)).cast("long").as("s_micro"))
    val top = scored.groupBy(col("doc_id"))
      .agg(sum(col("s_micro")).as("score_micro"), count(lit(1)).as("n_terms"))
      .orderBy(col("score_micro").desc, col("doc_id")).limit(k)
    top.withColumn("rk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("score_micro").desc, col("doc_id"))).cast("long"))
  }

  /** Exact phrase search: documents where the query terms appear
    * CONSECUTIVELY, with the occurrence count — the positional query
    * class conjunctive search can't answer (it loses adjacency).
    *
    * Evaluated as a pure MAP-SIDE scan of the token array (one
    * higher-order filter over the shifted windows) — zero shuffles,
    * zero joins, text never leaves its partition: the right default at
    * 100 TB, where the alternative (positional postings self-joined
    * per phrase term on (doc, pos)) shuffles the whole positional
    * index per query. A stored positional index only wins once the
    * corpus:query ratio is extreme AND the phrase's rarest term is
    * selective; this operator is the honest baseline that needs no
    * index at all.
    */
  def phraseCount(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase search needs at least one term")
    val L = phrase.length
    val withT = docs.select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("nl", size(col("t")))
      .filter(col("nl") >= L)
    val matchAt = (i: org.apache.spark.sql.Column) =>
      phrase.zipWithIndex.map { case (w, j) =>
        element_at(col("t"), (i + lit(j + 1)).cast("int")) === lit(w)
      }.reduce(_ && _)
    withT
      .withColumn("n_occ",
        size(filter(sequence(lit(0), col("nl") - L), matchAt)).cast("long"))
      .filter(col("n_occ") > 0)
      .select(col("doc_id"), col("n_occ"))
  }

  /** Gate phrase: a trigram that actually occurs in the corpus. */
  val PhraseTerms = Seq("slow", "hash", "batch")

  /** Pivot the probed positional postings of `terms` into one row per
    * doc with a position-array column per distinct term, keeping only
    * docs that contain ALL of them. The scan carries the same static
    * bucket PartitionFilter as [[conjunctiveSearchStored]]; the one
    * shuffle groups O(Σ|postings(term)|) rows by doc — cost scales
    * with the QUERY terms' posting lists, never the corpus. Reads
    * [[allPostings]] so delta generations serve positional probes
    * exactly like they serve BM25/conjunctive search — the bucket
    * filter prunes every generation's scan independently.
    */
  private def pivotPositions(spark: SparkSession, path: String,
                             terms: Seq[String]): DataFrame = {
    val post = allPostings(spark, path)
    val tcol = array(terms.map(lit): _*)
    val probed = post
      .filter(col("bucket").isin(terms.map(bucketOfLocal): _*))
      .filter(array_contains(tcol, col("term")))
      .select(col("doc_id"), col("term"), col("positions"))
    // (term, doc) is unique in the index, so first(ignoreNulls) is a
    // deterministic pick of the single positions array per term
    val aggs = terms.zipWithIndex.map { case (w, i) =>
      first(when(col("term") === w, col("positions")), ignoreNulls = true)
        .as(s"p$i")
    }
    probed.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .filter(terms.indices.map(i => col(s"p$i").isNotNull).reduce(_ && _))
  }

  /** Exact phrase search served from the STORED positional index —
    * hash-identical results to [[phraseCount]], but the corpus text is
    * never read: the probe touches only the phrase terms' bucket
    * partitions (static partition pruning), intersects the position
    * arrays per doc (an occurrence at p needs term j at p+j for every
    * j), and the arrays are doc-length-bounded so the per-doc work is
    * O(|positions(w₀)|·L) membership checks inside codegen. This is
    * the flat-serving-cost twin of the measured-linear map-side scan —
    * the right call once a corpus serves REPEATED phrase queries.
    */
  def phraseCountStored(spark: SparkSession, path: String,
                        phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase search needs at least one term")
    val terms = phrase.distinct
    val pivoted = pivotPositions(spark, path, terms)
    val pcol = (j: Int) => col("p" + terms.indexOf(phrase(j)))
    val nOcc =
      if (phrase.length == 1) size(pcol(0)).cast("long")
      else size(filter(pcol(0), p =>
        (1 until phrase.length)
          .map(j => array_contains(pcol(j), p + lit(j)))
          .reduce(_ && _))).cast("long")
    pivoted.withColumn("n_occ", nOcc)
      .filter(col("n_occ") > 0)
      .select(col("doc_id"), col("n_occ"))
  }

  /** Proximity (slop) search from the STORED positional index: per
    * doc, the number of occurrences of `a` that have an occurrence of
    * `b` within `slop` tokens (either direction) — the query class
    * between bag-of-words AND and exact phrase. Same pruned-probe
    * shape as [[phraseCountStored]].
    */
  def proximityCountStored(spark: SparkSession, path: String,
                           a: String, b: String, slop: Int): DataFrame = {
    require(slop >= 0, s"slop must be >= 0, got $slop")
    require(a != b, "proximity terms must differ")
    val pivoted = pivotPositions(spark, path, Seq(a, b))
    pivoted
      .withColumn("n_near",
        size(filter(col("p0"), p =>
          exists(col("p1"), q => abs(q - p) <= lit(slop)))).cast("long"))
      .filter(col("n_near") > 0)
      .select(col("doc_id"), col("n_near"))
  }

  /** Gate proximity pair + slop (both terms occur in the corpus). */
  val ProxA = "dup"
  val ProxB = "key"
  val ProxSlop = 5

  /** Minimal covering window (the snippet/keyword-in-context
    * primitive): for every doc containing ALL `terms`, the length of
    * the shortest token span that contains at least one occurrence of
    * each — the proximity-ranking signal a search serving layer
    * computes for its top hits. Served from the STORED positional
    * index with the same pruned-probe shape as
    * [[phraseCountStored]].
    *
    * Exact, via the ending-occurrence sweep: for each candidate end
    * position v (any term occurrence), the tightest window ending at
    * v starts at min over terms of (greatest occurrence ≤ v); the
    * answer is the min over v. All higher-order column expressions
    * over doc-length-bounded arrays — O(len·Σ|positions|) per doc
    * inside codegen, zero extra shuffles past the pivot.
    */
  def minWindowStored(spark: SparkSession, path: String,
                      terms: Seq[String]): DataFrame = {
    require(terms.size >= 2, "min-window needs at least two terms")
    require(terms.distinct.size == terms.size, "terms must be distinct")
    val pivoted = pivotPositions(spark, path, terms)
    val merged = array_sort(concat(terms.indices.map(i => col(s"p$i")): _*))
    val winAt = (v: org.apache.spark.sql.Column) => {
      val allCovered = terms.indices
        .map(i => size(filter(col(s"p$i"), x => x <= v)) > 0)
        .reduce(_ && _)
      val start = least(terms.indices.map(i =>
        array_max(filter(col(s"p$i"), x => x <= v))): _*)
      when(allCovered, v - start + 1)
    }
    pivoted
      .withColumn("win_len",
        array_min(transform(merged, winAt)).cast("long"))
      .select(col("doc_id"), col("win_len"))
  }

  /** Hybrid retrieval: reciprocal-rank fusion (RRF, Cormack et al.) of
    * the lexical BM25 list and the dense cosine list over the shared
    * doc_id/vec_id space — the standard two-tower fusion every
    * production RAG stack runs (sparse catches exact terms, dense
    * catches paraphrase; RRF needs no score calibration because it
    * consumes only RANKS).
    *
    * Determinism: rrf contribution = floor(10⁶ / (rrfK + rank)) — one
    * double division of exactly-representable operands, one floor —
    * summed as exact BIGINTs, so fused order is engine-independent.
    * Docs absent from a list contribute 0 (rank reported as 0).
    *
    * Scale shape: each list is a top-`c` per query from its own index
    * (stored bucket-pruned postings / stored IVF probe at scale; the
    * gate uses the inline builds), so the fusion's full-outer join and
    * the final sort-limit run on O(c) rows — the corpus is touched
    * only inside the two index probes, never by the fusion itself.
    */
  def hybridRrf(docs: DataFrame, emb: DataFrame, terms: Seq[String],
                qVec: Long, c: Int = 50, k: Int = 10,
                rrfK: Int = 60): DataFrame = {
    val lex = bm25TopK(docs, terms, c)
      .select(col("doc_id"), col("rk").as("lex_rank"))
    val dense = Similarity.bruteForceTopK(emb, col("vec_id") === qVec, c)
      .select(col("n_id").as("doc_id"), col("rank").cast("long").as("dense_rank"))
    rrfFuse(lex, dense, k, rrfK)
  }

  /** Hybrid retrieval served ENTIRELY from stored indexes — the
    * production composition of the two serving paths: BM25 from the
    * bucket-pruned postings + doclens/stats sidecars
    * ([[bm25TopKStored]]) and dense ranks from the cluster-pruned
    * stored IVF probe ([[Similarity.ivfTopKStored]]). The corpus text
    * and the full vector table are never scanned; the fusion runs on
    * O(c) rows. Dense ranks are the IVF probe's (candidates from the
    * query's nProbe clusters, not the brute-force list) — the oracle
    * recomputes the identical probe, so the fused output stays
    * hash-exact.
    */
  def hybridRrfStored(spark: SparkSession, textIdx: String, ivfIdx: String,
                      queryVec: DataFrame, terms: Seq[String],
                      c: Int = 50, k: Int = 10, rrfK: Int = 60,
                      nProbe: Int = 2): DataFrame = {
    val lex = bm25TopKStored(spark, textIdx, terms, c)
      .select(col("doc_id"), col("rk").as("lex_rank"))
    val dense = Similarity.ivfTopKStored(spark, ivfIdx, queryVec, c, nProbe)
      .select(col("n_id").as("doc_id"),
        col("rank").cast("long").as("dense_rank"))
    rrfFuse(lex, dense, k, rrfK)
  }

  /** Shared reciprocal-rank fusion: floor(10⁶/(rrfK+rank)) per list,
    * summed as exact BIGINTs; absent ranks contribute 0. */
  private def rrfFuse(lex: DataFrame, dense: DataFrame,
                      k: Int, rrfK: Int): DataFrame = {
    def contrib(rank: org.apache.spark.sql.Column) =
      when(rank.isNotNull,
        floor(lit(1e6) / (lit(rrfK).cast("double") + rank.cast("double")))
          .cast("long")).otherwise(lit(0L))
    val fused = lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (contrib(col("lex_rank")) + contrib(col("dense_rank"))).as("rrf_micro"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("dense_rank"), lit(0L)).as("dense_rank"))
    fused.orderBy(col("rrf_micro").desc, col("doc_id")).limit(k)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("rrf_micro").desc, col("doc_id"))).cast("long"))
  }

  /** Build-once postings index fixture for an sf dir (the
    * [[Similarity.indexDir]] pattern). */
  def indexDir(spark: SparkSession, sfDir: String): String = synchronized {
    val canonical = new java.io.File(sfDir).getCanonicalPath
    val name = new java.io.File(sfDir).getName + "_" +
      Integer.toHexString(canonical.hashCode)
    val base = s"/tmp/graft_text/$name"
    // v3: the index gained the term-dictionary sidecar (v2: positions
    // column) — a stale dir left in /tmp must rebuild, not half-serve
    val marker = new org.apache.hadoop.fs.Path(s"$base/_INDEX_SUCCESS_v3")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(base)))
        fs.delete(new org.apache.hadoop.fs.Path(base), true)
      writePostingsIndex(t(spark, sfDir, "documents"), base)
      fs.create(marker, true).close()
    }
    base
  }

  /** Gate query terms: one rare term ('dup', df≈5% of docs) against
    * two common ones — the spread that makes idf weighting visible. */
  val QueryTerms = Seq("dup", "spark", "key")

  /** Build-once SPLIT index fixture: even doc_ids indexed at build
    * time, odd doc_ids appended as a delta generation — the gate proof
    * that base ∪ delta serves exactly what a full rebuild would. */
  def indexDirDelta(spark: SparkSession, sfDir: String): String = synchronized {
    val canonical = new java.io.File(sfDir).getCanonicalPath
    val name = new java.io.File(sfDir).getName + "_" +
      Integer.toHexString(canonical.hashCode) + "_split"
    val base = s"/tmp/graft_text/$name"
    val marker = new org.apache.hadoop.fs.Path(s"$base/_INDEX_SUCCESS_v2")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(base)))
        fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val docs = t(spark, sfDir, "documents")
      writePostingsIndex(docs.filter(col("doc_id") % 2 === 0), base)
      appendPostingsDelta(docs.filter(col("doc_id") % 2 =!= 0), base)
      fs.create(marker, true).close()
    }
    base
  }

  /** The upsert marker token appended to re-ingested gate docs. */
  val RevisedMark = "revisedmark"

  /** Build-once DELETE/UPSERT index fixture: evens at build, odds
    * appended (tombstones must fence across BOTH the base and a delta
    * generation), every doc_id % 7 == 0 DELETED, then the % 21 == 0
    * subset RE-APPENDED with a marker token — the takedown + re-ingest
    * lifecycle. The served corpus the oracle mirrors is
    * [[tombCorpusSql]]. */
  def indexDirTomb(spark: SparkSession, sfDir: String): String = synchronized {
    val canonical = new java.io.File(sfDir).getCanonicalPath
    val name = new java.io.File(sfDir).getName + "_" +
      Integer.toHexString(canonical.hashCode) + "_tomb"
    val base = s"/tmp/graft_text/$name"
    val marker = new org.apache.hadoop.fs.Path(s"$base/_INDEX_SUCCESS_v2")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(base)))
        fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val docs = t(spark, sfDir, "documents")
      writePostingsIndex(docs.filter(col("doc_id") % 2 === 0), base)
      appendPostingsDelta(docs.filter(col("doc_id") % 2 =!= 0), base)
      deletePostingsDocs(spark, base,
        docs.filter(col("doc_id") % 7 === 0).select(col("doc_id")))
      appendPostingsDelta(docs.filter(col("doc_id") % 21 === 0)
        .select(col("doc_id"),
          concat(col("text"), lit(s" $RevisedMark")).as("text")), base)
      fs.create(marker, true).close()
    }
    base
  }

  /** The corpus the tombstone fixture serves, as DuckDB SQL — shadows
    * the `documents` table in any oracle via [[overCorpus]]. */
  private lazy val tombCorpusSql: String =
    s"""SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0
       |  UNION ALL
       |  SELECT doc_id, text || ' $RevisedMark' AS text
       |  FROM documents WHERE doc_id % 21 = 0""".stripMargin

  /** The whole-corpus conjunctive-search oracle re-scoped to a derived
    * corpus — for gates whose fixture mutates the document set (the
    * streaming CDC apply). */
  private[graft] def searchOracleOver(corpus: String): String =
    overCorpus(searchOracleSql, corpus)

  /** Re-scope an oracle written against `documents` to a derived
    * corpus: prepend a CTE holding the derived corpus and repoint the
    * oracle's corpus reads at it (a CTE cannot share the shadowed
    * table's name — it would be a circular reference). */
  private def overCorpus(sql: String, corpus: String): String = {
    require(sql.startsWith("WITH "), s"oracle must start with WITH: $sql")
    s"WITH served_docs AS (\n  $corpus),\n" +
      sql.stripPrefix("WITH ").replace("FROM documents", "FROM served_docs")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // AND-search served from the stored bucket-partitioned index;
    // oracle = plain SQL over documents (the index is an access path,
    // not a semantic: results must be identical with or without it)
    "t_search" -> { (s, d) =>
      conjunctiveSearchStored(s, indexDir(s, d), QueryTerms)
    },
    // BM25 top-20 with rational idf + micro-quantized term scores —
    // deterministic, so ranked retrieval is oracle-checked bit-for-bit
    "t_bm25" -> { (s, d) => bm25TopK(t(s, d, "documents"), QueryTerms) },
    // the SAME ranking served from the stored index (postings probe +
    // doclens sidecar; shared oracle text = access-path hash equality)
    "t_bm25_stored" -> { (s, d) =>
      bm25TopKStored(s, indexDir(s, d), QueryTerms)
    },
    // conjunctive search over a base+delta split index: the union of
    // generations must serve exactly what one full build would (the
    // oracle is t_search's whole-corpus SQL, verbatim)
    "t_search_delta" -> { (s, d) =>
      conjunctiveSearchStored(s, indexDirDelta(s, d), QueryTerms)
    },
    // hybrid sparse+dense: RRF of the BM25 top-50 and the cosine
    // top-50 for query vector 7 over the shared doc_id/vec_id space
    "t_hybrid_rrf" -> { (s, d) =>
      hybridRrf(t(s, d, "documents"), t(s, d, "embeddings"), QueryTerms, 7L)
    },
    // the same fusion served entirely from STORED indexes: pruned
    // postings BM25 + pruned stored-IVF dense ranks (nProbe = 2)
    "t_hybrid_stored" -> { (s, d) =>
      hybridRrfStored(s, indexDir(s, d), s"${Similarity.indexDir(s, d)}/ivf",
        t(s, d, "embeddings").filter(col("vec_id") === 7L), QueryTerms)
    },
    // exact consecutive-phrase match, zero-shuffle map-side scan
    "t_phrase" -> { (s, d) =>
      phraseCount(t(s, d, "documents"), PhraseTerms)
    },
    // the SAME phrase served from the stored positional index — the
    // oracle SQL is identical to t_phrase's (an index is an access
    // path, not a semantic), so the gate proves hash-equality of the
    // two evaluation strategies
    "t_phrase_stored" -> { (s, d) =>
      phraseCountStored(s, indexDir(s, d), PhraseTerms)
    },
    // slop-window proximity from the stored positional index
    "t_proximity" -> { (s, d) =>
      proximityCountStored(s, indexDir(s, d), ProxA, ProxB, ProxSlop)
    },
    // the SAME phrase probe over the base+delta SPLIT index (even docs
    // at build, odd docs appended): positional probes must union every
    // generation exactly like BM25/conjunctive search do — the oracle
    // is t_phrase's whole-corpus SQL, verbatim
    "t_phrase_delta" -> { (s, d) =>
      phraseCountStored(s, indexDirDelta(s, d), PhraseTerms)
    },
    // proximity over the split index, same union-of-generations proof
    "t_proximity_delta" -> { (s, d) =>
      proximityCountStored(s, indexDirDelta(s, d), ProxA, ProxB, ProxSlop)
    },
    // minimal covering window of the 3 query terms — the snippet
    // primitive, served from the stored positional index
    "t_min_window" -> { (s, d) =>
      minWindowStored(s, indexDir(s, d), QueryTerms)
    },
    // conjunctive search over the DELETE/UPSERT fixture: tombstoned
    // docs fenced out of base AND delta generations, re-appended docs
    // served in their new version — the oracle runs the same SQL over
    // the post-lifecycle corpus
    "t_search_deleted" -> { (s, d) =>
      conjunctiveSearchStored(s, indexDirTomb(s, d), QueryTerms)
    },
    // BM25 over the same fixture: exercises the NEGATIVE stats rows
    // (N/avgdl of the served corpus, no O(N) doclens rescan) and the
    // fenced doclens sidecar — idf and length normalization must
    // reflect deletions exactly
    "t_bm25_deleted" -> { (s, d) =>
      bm25TopKStored(s, indexDirTomb(s, d), QueryTerms)
    },
    // positional probe over the same fixture: phrase occurrences from
    // deleted docs vanish, from re-appended docs come from the NEW
    // version's positions
    "t_phrase_deleted" -> { (s, d) =>
      phraseCountStored(s, indexDirTomb(s, d), PhraseTerms)
    },
    // prefix (wildcard) search: dictionary-resolved expansion set,
    // probe limited to the expansions' buckets — 's%' matches 6 terms
    // of the gate vocabulary across several buckets
    "t_prefix_stored" -> { (s, d) =>
      prefixSearchStored(s, indexDir(s, d), "s")
    },
    // fuzzy (edit-distance ≤ 2) search over the SPLIT fixture: the
    // expansion set resolves against base + delta generation dicts
    // (a delta-appended term must expand too), probes bucket-pruned
    "t_fuzzy_stored" -> { (s, d) =>
      fuzzySearchStored(s, indexDirDelta(s, d), "spork", maxDist = 2)
    }
  )

  private val termList = QueryTerms.map(tm => s"'$tm'").mkString(", ")

  /** The BM25 scoring CTE chain up through ranked `r` — shared by the
    * plain top-20 oracle and the hybrid-RRF oracle so both pin the
    * identical lexical ranking semantics.
    */
  private lazy val bm25RankedCtes: String =
    s"""WITH tok AS (
       |  SELECT doc_id, w.w AS term
       |  FROM documents,
       |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w(w)),
       |post AS (
       |  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
       |  FROM tok GROUP BY 1, 2),
       |dl AS (
       |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
       |  FROM post GROUP BY 1),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS BIGINT) AS tot FROM dl),
       |qdf AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df
       |  FROM post WHERE term IN ($termList) GROUP BY 1),
       |scored AS (
       |  SELECT post.doc_id,
       |    CAST(floor(
       |      ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
       |       (CAST(df AS DOUBLE) + 0.5)) *
       |      ((CAST(tf AS DOUBLE) * ${K1 + 1.0}) /
       |       (CAST(tf AS DOUBLE) + $K1 * (${1.0 - B} + $B *
       |         (CAST(dl.dl AS DOUBLE) /
       |          (CAST(tot AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
       |      * 1000000.0 + 0.5) AS BIGINT) AS s_micro
       |  FROM post
       |  JOIN qdf ON qdf.term = post.term
       |  JOIN dl ON dl.doc_id = post.doc_id
       |  CROSS JOIN stats),
       |agg AS (
       |  SELECT doc_id, CAST(sum(s_micro) AS BIGINT) AS score_micro,
       |    CAST(count(*) AS BIGINT) AS n_terms
       |  FROM scored GROUP BY 1),
       |r AS (
       |  SELECT doc_id, score_micro, n_terms,
       |    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id)
       |      AS BIGINT) AS rk
       |  FROM agg)""".stripMargin

  /** Shared by `t_phrase` and `t_phrase_stored`: the two operators are
    * the same query under different access paths, so they share one
    * oracle text — the gate then proves hash-equality of both. */
  private lazy val phraseOracleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(range(1, len(t) - ${PhraseTerms.size} + 2),
       |      i -> ${PhraseTerms.zipWithIndex.map { case (w, j) =>
                    s"t[i+$j] = '$w'" }.mkString(" AND ")}))
       |      AS BIGINT) AS n_occ
       |  FROM d WHERE len(t) >= ${PhraseTerms.size})
       |SELECT doc_id, n_occ FROM m WHERE n_occ > 0""".stripMargin

  /** Whole-corpus conjunctive-search SQL — shared by `t_search`,
    * `t_search_delta` (base ∪ delta must equal a full build), and the
    * TVF spec: the index is an access path, results must be identical
    * however it is generationally laid out. */
  private lazy val searchOracleSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, w.w AS term
       |  FROM documents,
       |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w(w))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS hits
       |FROM tok WHERE term IN ($termList)
       |GROUP BY doc_id
       |HAVING count(DISTINCT term) = ${QueryTerms.size}""".stripMargin

  /** Proximity: occurrences of ProxA with a ProxB within ProxSlop
    * tokens — list-comprehension twin of the Spark position-array
    * probe. Shared by `t_proximity` (build-time index) and
    * `t_proximity_delta` (split base+delta index). */
  private lazy val proximityOracleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(range(1, len(t) + 1),
       |      i -> t[i] = '$ProxA' AND len(list_filter(
       |        range(1, len(t) + 1),
       |        j -> t[j] = '$ProxB' AND abs(j - i) <= $ProxSlop)) > 0))
       |      AS BIGINT) AS n_near
       |  FROM d)
       |SELECT doc_id, n_near FROM m WHERE n_near > 0""".stripMargin

  private lazy val bm25OracleSql: String =
    s"""$bm25RankedCtes
       |SELECT doc_id, score_micro, n_terms, rk FROM r WHERE rk <= 20""".stripMargin

  def oracle: Map[String, String] = Map(
    "t_search" -> searchOracleSql,
    "t_search_delta" -> searchOracleSql,

    "t_bm25" -> bm25OracleSql,
    // identical SQL: the stored-index ranking must hash-match the
    // inline build bit-for-bit
    "t_bm25_stored" -> bm25OracleSql,

    // same shifted-window scan over the token list
    "t_phrase" -> phraseOracleSql,

    // identical SQL: the stored positional probe must hash-match the
    // scan evaluation bit-for-bit
    "t_phrase_stored" -> phraseOracleSql,
    // and over the split base+delta index: generations are an access
    // path, the whole-corpus answer must not change
    "t_phrase_delta" -> phraseOracleSql,

    "t_proximity" -> proximityOracleSql,
    "t_proximity_delta" -> proximityOracleSql,

    // the delete/upsert fixture gates: the SAME oracle texts, re-scoped
    // to the post-lifecycle corpus — deletions and re-ingestions are
    // index maintenance, not semantics, so the answer must equal a
    // fresh build over the surviving docs
    "t_prefix_stored" ->
      s"""WITH tok AS (
         |  SELECT doc_id, w.w AS term
         |  FROM documents,
         |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w(w)),
         |post AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
         |  FROM tok GROUP BY 1, 2)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
         |  CAST(sum(tf) AS BIGINT) AS hits
         |FROM post WHERE term LIKE 's%' GROUP BY doc_id""".stripMargin,

    // dictionary-resolved edit-distance expansion ("spork" ~2 →
    // {sort, spark} on this corpus), aggregated like prefix search
    "t_fuzzy_stored" ->
      s"""WITH tok AS (
         |  SELECT doc_id, w.w AS term
         |  FROM documents,
         |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w(w)),
         |post AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
         |  FROM tok GROUP BY 1, 2)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
         |  CAST(sum(tf) AS BIGINT) AS hits
         |FROM post WHERE levenshtein(term, 'spork') <= 2
         |GROUP BY doc_id""".stripMargin,

    "t_search_deleted" -> overCorpus(searchOracleSql, tombCorpusSql),
    "t_bm25_deleted" -> overCorpus(bm25OracleSql, tombCorpusSql),
    "t_phrase_deleted" -> overCorpus(phraseOracleSql, tombCorpusSql),

    // minimal covering window: same ending-occurrence sweep over the
    // token positions, list-comprehension form
    "t_min_window" -> {
      val ps = QueryTerms.indices.map(i => s"p$i")
      val defs = QueryTerms.zipWithIndex.map { case (w, i) =>
        s"list_filter(range(1, len(t) + 1), i -> t[i] = '$w') AS p$i"
      }.mkString(",\n  |    ")
      val covered = ps.map(p => s"len(list_filter($p, x -> x <= v)) > 0")
        .mkString(" AND ")
      val starts = ps.map(p => s"list_max(list_filter($p, x -> x <= v))")
        .mkString(", ")
      s"""WITH d AS (
         |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
         |  FROM documents),
         |p AS (
         |  SELECT doc_id,
         |    ${defs}
         |  FROM d),
         |m AS (
         |  SELECT doc_id,
         |    list_min(list_transform(list_sort(flatten([${ps.mkString(", ")}])),
         |      v -> CASE WHEN $covered
         |        THEN v - least($starts) + 1 ELSE NULL END)) AS win_len
         |  FROM p
         |  WHERE ${ps.map(p => s"len($p) > 0").mkString(" AND ")})
         |SELECT doc_id, CAST(win_len AS BIGINT) AS win_len FROM m""".stripMargin
    },

    // stored-serving hybrid: lex ranks from the same BM25 chain, dense
    // ranks from the RECOMPUTED stored-IVF probe (assignment, top-2
    // probe clusters of query 7, rank over probed candidates) — the
    // exact rows the pruned index serves, fused with the same RRF
    "t_hybrid_stored" ->
      s"""$bm25RankedCtes,
         |cent AS (
         |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
         |  WHERE vec_id % 40 = 0),
         |assigned AS (
         |  SELECT vec_id, embedding, c_id AS cluster FROM (
         |    SELECT e.vec_id, e.embedding, cent.c_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${Similarity.cosSql("e.embedding", "cent.c_emb")} DESC,
         |          cent.c_id) AS arank
         |    FROM embeddings e CROSS JOIN cent)
         |  WHERE arank = 1),
         |qv AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 7),
         |qp AS (
         |  SELECT c_id FROM (
         |    SELECT cent.c_id,
         |      row_number() OVER (ORDER BY
         |        ${Similarity.cosSql("q_emb", "c_emb")} DESC, cent.c_id) AS arank
         |    FROM cent CROSS JOIN qv)
         |  WHERE arank <= 2),
         |dscored AS (
         |  SELECT a.vec_id AS n_id,
         |    ${Similarity.cosSql("q_emb", "a.embedding")} AS cos
         |  FROM assigned a JOIN qp ON a.cluster = qp.c_id CROSS JOIN qv
         |  WHERE a.vec_id <> 7),
         |dense AS (
         |  SELECT doc_id, dense_rank FROM (
         |    SELECT n_id AS doc_id,
         |      CAST(row_number() OVER (ORDER BY cos DESC, n_id) AS BIGINT)
         |        AS dense_rank
         |    FROM dscored) WHERE dense_rank <= 50),
         |lex AS (SELECT doc_id, rk AS lex_rank FROM r WHERE rk <= 50),
         |fused AS (
         |  SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
         |    CAST(COALESCE(CAST(floor(1000000.0 /
         |        (60.0 + CAST(l.lex_rank AS DOUBLE))) AS BIGINT), 0) +
         |      COALESCE(CAST(floor(1000000.0 /
         |        (60.0 + CAST(d.dense_rank AS DOUBLE))) AS BIGINT), 0)
         |      AS BIGINT) AS rrf_micro,
         |    CAST(COALESCE(l.lex_rank, 0) AS BIGINT) AS lex_rank,
         |    CAST(COALESCE(d.dense_rank, 0) AS BIGINT) AS dense_rank
         |  FROM lex l FULL JOIN dense d ON d.doc_id = l.doc_id),
         |rr AS (
         |  SELECT doc_id, rrf_micro, lex_rank, dense_rank,
         |    CAST(row_number() OVER (ORDER BY rrf_micro DESC, doc_id)
         |      AS BIGINT) AS rk
         |  FROM fused)
         |SELECT doc_id, rrf_micro, lex_rank, dense_rank, rk
         |FROM rr WHERE rk <= 10""".stripMargin,

    // RRF fusion of the BM25 top-50 and the dense cosine top-50 for
    // query vector 7 — both rank lists pinned to the Spark side's
    // semantics, contributions floor(1e6/(60+rank)) summed as BIGINTs
    "t_hybrid_rrf" ->
      s"""$bm25RankedCtes,
         |lex AS (SELECT doc_id, rk AS lex_rank FROM r WHERE rk <= 50),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb
         |      FROM embeddings WHERE vec_id = 7),
         |cand AS (SELECT vec_id AS n_id, embedding AS n_emb FROM embeddings),
         |dscored AS (
         |  SELECT q_id, n_id, ${Similarity.cosSql("q_emb", "n_emb")} AS cos
         |  FROM cand JOIN q ON q_id <> n_id),
         |dense AS (
         |  SELECT doc_id, dense_rank FROM (
         |    SELECT n_id AS doc_id,
         |      CAST(row_number() OVER (ORDER BY cos DESC, n_id) AS BIGINT)
         |        AS dense_rank
         |    FROM dscored) WHERE dense_rank <= 50),
         |fused AS (
         |  SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
         |    CAST(COALESCE(CAST(floor(1000000.0 /
         |        (60.0 + CAST(l.lex_rank AS DOUBLE))) AS BIGINT), 0) +
         |      COALESCE(CAST(floor(1000000.0 /
         |        (60.0 + CAST(d.dense_rank AS DOUBLE))) AS BIGINT), 0)
         |      AS BIGINT) AS rrf_micro,
         |    CAST(COALESCE(l.lex_rank, 0) AS BIGINT) AS lex_rank,
         |    CAST(COALESCE(d.dense_rank, 0) AS BIGINT) AS dense_rank
         |  FROM lex l FULL JOIN dense d ON d.doc_id = l.doc_id),
         |rr AS (
         |  SELECT doc_id, rrf_micro, lex_rank, dense_rank,
         |    CAST(row_number() OVER (ORDER BY rrf_micro DESC, doc_id)
         |      AS BIGINT) AS rk
         |  FROM fused)
         |SELECT doc_id, rrf_micro, lex_rank, dense_rank, rk
         |FROM rr WHERE rk <= 10""".stripMargin
  )
}
