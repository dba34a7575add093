package graft.sources.graphar

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.functions.{col, count, countDistinct, lit, max, regexp_extract}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.meta.GraphArMeta
import graft.streaming.GraphArSink

/** Batch mutation verbs over a versioned GraphAr layout — add/remove
  * edges and vertex-table updates as NEW SNAPSHOT VERSIONS.
  *
  * GraphAr's chunked CSR layout is immutable (an inserted edge shifts
  * every later offset — the reference is strictly read-only,
  * graphar_catalog.cpp:61-76), so mutation is copy-on-write at the
  * snapshot level: read version N, apply the change, write the complete
  * result as `v(N+1)`, atomically repoint `LATEST` — the same commit
  * protocol and time-travel surface as the streaming sink
  * ([[GraphArSink]]); a crash mid-mutation leaves LATEST on version N.
  *
  * Scale shape: one mutation = one full rewrite of the edge table, so
  * the API is batch-amortized by design — accumulate a day's deltas and
  * commit once, exactly how immutable-layout tables (Iceberg/Delta
  * without manifests) handle churn. The rewrite itself is the writer's
  * distributed CSR sort (a Kryo-serialized keyed shuffle, one task per
  * vertex-chunk part, optional task packing), and the union/anti
  * inputs shuffle only (src, dst, props) rows.
  *
  * ==Single-writer contract==
  * Stage/commit/compact coordination is JVM-local (object-level
  * `synchronized` + the `compacting` ThreadLocal): ONE driver process
  * may mutate a given `base` at a time. Crash safety (a died writer
  * leaves LATEST on the previous snapshot and at worst an invisible
  * partial dir) holds, but two CONCURRENT writer processes can
  * interleave stage/compact/commit into duplicate seq dirs or commit a
  * snapshot mid-fold — the same contract as Delta Lake on stores
  * without putIfAbsent. Readers are unrestricted: any number of
  * processes may read any committed snapshot or the folded view
  * concurrently with the single writer.
  */
object GraphArMutations {

  /** Bootstrap a versioned edge graph: writes `base/v0` and commits
    * LATEST — the batch twin of [[GraphArSink.edges]]. `edges` columns:
    * (src, dst, properties...). Returns the committed version (0).
    */
  def initEdges(spark: SparkSession, base: String, edges: DataFrame,
                graphName: String, spec: GraphArWriter.EdgeSpec): Long = {
    val existing = GraphArSink.versions(spark, base)
    require(existing.isEmpty,
      s"$base already holds versions [${existing.mkString(", ")}] — " +
        "init would repoint LATEST backwards; use commitEdges/addEdges")
    writeVersion(spark, base, 0L, edges, graphName, spec)
  }

  /** Append edges: version N+1 = version N ∪ `delta` (multiset union —
    * GraphAr edge tables are multigraphs; dedup in `delta` first if you
    * want set semantics). `delta` columns must match the edge table's
    * (src, dst, properties...). Ids beyond the declared vertex count
    * are rejected by the writer — grow `newVertexCount` explicitly when
    * the delta introduces new vertices.
    */
  def addEdges(spark: SparkSession, base: String, delta: DataFrame,
               newVertexCount: Option[Long] = None): Long =
    commitEdges(spark, base, cur => cur.unionByName(delta), newVertexCount)

  /** Remove every edge (all multigraph copies) whose (src, dst) appears
    * in `keys` — an anti-join, the relational form of edge deletion.
    */
  def removeEdges(spark: SparkSession, base: String, keys: DataFrame): Long =
    commitEdges(spark, base,
      cur => cur.join(keys.select(col("src"), col("dst")).distinct(),
        Seq("src", "dst"), "left_anti"))

  /** General copy-on-write edge commit: `mutate` sees version N's edge
    * table with standard (src, dst, properties...) names and returns
    * the complete next table. The graph must be the single-edge-type
    * shape the versioned sink writes. Returns the new version number.
    */
  def commitEdges(spark: SparkSession, base: String,
                  mutate: DataFrame => DataFrame,
                  newVertexCount: Option[Long] = None): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val curYaml = GraphArSink.latestYaml(spark, base)
    require(curYaml != null, s"no committed snapshot under $base — initEdges first")
    // a commit reads the SNAPSHOT, not the folded view — with a staged
    // log pending, staged removes would re-apply on top of this commit's
    // adds, reordering history. Refuse rather than silently diverge.
    // (compactDeltas itself clears the log before calling back in here.)
    require(compacting.get() || liveDeltas(spark, base, None).isEmpty,
      s"staged deltas pending under $base — compactDeltas (or discard " +
        "the delta dirs) before committing a snapshot mutation")
    val info = GraphArMeta.loadGraph(curYaml, conf)
    require(info.edges.size == 1 && info.vertices.isEmpty,
      s"commitEdges mutates single-edge-type graphs (the versioned-sink " +
        s"layout); ${info.name} has ${info.vertices.size} vertex and " +
        s"${info.edges.size} edge types — use commitEdgesOf")
    val e = info.edges.head
    val cur = readEdgeTable(spark, curYaml, e)
    val next = GraphArSink.versions(spark, base).max + 1
    writeVersion(spark, base, next, mutate(cur), info.name,
      specOf(e, conf, newVertexCount))
  }

  // ------------------------------------------------- multi-edge-type graphs
  //
  // A graph with several edge types mutates ONE type per commit; the new
  // version rewrites only that type's table and REFERENCES every other
  // table's data files in the previous version's directory via an
  // absolute `prefix:` in the copied yaml — zero bytes copied for
  // unchanged types, exactly how manifest-based table formats version a
  // multi-table dataset. References chain: a type last rewritten at v1
  // is referenced by v2, v3, ... all pointing at v1's real files.

  /** Bootstrap a versioned multi-edge-type graph: writes all tables to
    * `base/v0` and commits LATEST. Each entry: (edge table with (src,
    * dst, properties...) columns, its spec). Returns version 0.
    */
  def initEdgeTypes(spark: SparkSession, base: String, graphName: String,
                    tables: Seq[(DataFrame, GraphArWriter.EdgeSpec)]): Long = {
    val existing = GraphArSink.versions(spark, base)
    require(existing.isEmpty,
      s"$base already holds versions [${existing.mkString(", ")}] — " +
        "init would repoint LATEST backwards; use commitEdgesOf")
    require(tables.nonEmpty, "no edge tables")
    val names = tables.map(_._2.name)
    require(names.distinct == names, s"duplicate edge-type names: $names")
    val conf = spark.sessionState.newHadoopConf()
    val dir = s"$base/v0"
    tables.foreach { case (df, spec) => GraphArWriter.writeEdges(df, dir, spec) }
    val yaml = GraphArWriter.writeGraphYaml(dir, graphName, Seq.empty, names, conf)
    GraphArSink.commitLatest(spark, base, yaml, conf)
    0L
  }

  /** Copy-on-write commit of ONE edge type in a multi-type graph:
    * rewrites `Src_type_Dst` = `edgeName`'s table into v(N+1), references
    * every other edge type's (and any vertex type's) data unchanged from
    * its current location, atomically repoints LATEST. Returns the new
    * version number.
    */
  def commitEdgesOf(spark: SparkSession, base: String, edgeName: String,
                    mutate: DataFrame => DataFrame,
                    newVertexCount: Option[Long] = None): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val curYaml = GraphArSink.latestYaml(spark, base)
    require(curYaml != null, s"no committed snapshot under $base — initEdgeTypes first")
    require(compacting.get() || liveDeltas(spark, base, Some(edgeName)).isEmpty,
      s"staged deltas pending for $edgeName under $base — compactDeltasOf " +
        "(or discard the delta dirs) before committing a snapshot mutation")
    val info = GraphArMeta.loadGraph(curYaml, conf)
    val e = info.edges.find(_.name == edgeName).getOrElse(
      throw new IllegalArgumentException(s"no edge type '$edgeName' in " +
        s"${info.name}; has [${info.edges.map(_.name).mkString(", ")}]"))
    val cur = readEdgeTable(spark, curYaml, e)
    val next = GraphArSink.versions(spark, base).max + 1
    val dir = s"$base/v$next"
    GraphArWriter.writeEdges(mutate(cur), dir, specOf(e, conf, newVertexCount))
    // unchanged types: copy the yaml, repoint its prefix at the old data
    info.edges.filterNot(_.name == edgeName).foreach { o =>
      referenceYaml(new Path(o.baseDir, s"${o.name}.edge.yaml"),
        new Path(dir, s"${o.name}.edge.yaml"), o.dir, conf)
    }
    info.vertices.foreach { v =>
      referenceYaml(new Path(v.baseDir, s"${v.vertexType}.vertex.yaml"),
        new Path(dir, s"${v.vertexType}.vertex.yaml"), v.dir, conf)
    }
    val yaml = GraphArWriter.writeGraphYaml(dir, info.name,
      info.vertices.map(_.vertexType), info.edges.map(_.name), conf)
    GraphArSink.commitLatest(spark, base, yaml, conf)
    next
  }

  /** Append edges to one type of a multi-type graph (multiset union). */
  def addEdgesOf(spark: SparkSession, base: String, edgeName: String,
                 delta: DataFrame, newVertexCount: Option[Long] = None): Long =
    commitEdgesOf(spark, base, edgeName, cur => cur.unionByName(delta),
      newVertexCount)

  /** Bootstrap a versioned FULL graph — vertex types AND edge types in
    * one snapshot lineage. Each vertex entry: (rows with property
    * columns, its spec, the orderCol whose sort derives the vertex
    * index). Each edge entry: (edge table with (src, dst, props...)
    * columns, its spec). Commits `base/v0` and LATEST; mutate per-table
    * afterwards with [[commitEdgesOf]] / [[commitVerticesOf]] — each
    * commit rewrites ONE table and references the rest zero-copy.
    */
  def initGraph(spark: SparkSession, base: String, graphName: String,
                vertexTables: Seq[(DataFrame, GraphArWriter.VertexSpec, String)],
                edgeTables: Seq[(DataFrame, GraphArWriter.EdgeSpec)]): Long = {
    val existing = GraphArSink.versions(spark, base)
    require(existing.isEmpty,
      s"$base already holds versions [${existing.mkString(", ")}] — " +
        "init would repoint LATEST backwards")
    require(vertexTables.nonEmpty || edgeTables.nonEmpty, "empty graph")
    val vNames = vertexTables.map(_._2.vertexType)
    val eNames = edgeTables.map(_._2.name)
    require(vNames.distinct == vNames, s"duplicate vertex types: $vNames")
    require(eNames.distinct == eNames, s"duplicate edge-type names: $eNames")
    val conf = spark.sessionState.newHadoopConf()
    val dir = s"$base/v0"
    vertexTables.foreach { case (df, spec, orderCol) =>
      GraphArWriter.writeVertices(df.orderBy(orderCol), dir, spec)
    }
    edgeTables.foreach { case (df, spec) => GraphArWriter.writeEdges(df, dir, spec) }
    val yaml = GraphArWriter.writeGraphYaml(dir, graphName, vNames, eNames, conf)
    GraphArSink.commitLatest(spark, base, yaml, conf)
    0L
  }

  /** Copy-on-write commit of ONE vertex type in a multi-type graph:
    * rewrites that type's table into v(N+1) (re-sorted by `orderCol`, so
    * the synthetic index is re-derived), references every other vertex
    * type's and every edge type's data unchanged, repoints LATEST.
    *
    * Index-stability caveat: edge tables store vertex INDEXES. A mutate
    * that only updates property values of existing keys keeps every
    * index stable (row order is the orderCol sort), so edges stay
    * consistent. A mutate that inserts or removes keys SHIFTS the
    * indexes after the insertion point — edges referencing the old
    * numbering belong to the old snapshot, and the caller owns
    * re-deriving them (same contract as [[commitVertices]]).
    */
  def commitVerticesOf(spark: SparkSession, base: String, vertexType: String,
                       mutate: DataFrame => DataFrame, orderCol: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val curYaml = GraphArSink.latestYaml(spark, base)
    require(curYaml != null, s"no committed snapshot under $base — initGraph first")
    // same reorder hazard as edge commits: a snapshot commit under a
    // staged per-type log would have the staged upserts re-apply on top
    require(compacting.get() ||
      liveVertexDeltasIn(spark, base, Some(vertexType)).isEmpty,
      s"staged vertex deltas pending for $vertexType under $base — " +
        "compactVertexDeltasOf (or discard the vdelta dirs) first")
    val info = GraphArMeta.loadGraph(curYaml, conf)
    val v = info.vertices.find(_.vertexType == vertexType).getOrElse(
      throw new IllegalArgumentException(s"no vertex type '$vertexType' in " +
        s"${info.name}; has [${info.vertices.map(_.vertexType).mkString(", ")}]"))
    val cur = spark.read.format("graphar").option("path", curYaml)
      .option("type", vertexType).load()
      .drop(GraphArMeta.VertexIndexCol)
    val spec = GraphArWriter.VertexSpec(vertexType, v.chunkSize,
      v.propertyGroups.headOption.map(_.fileType).getOrElse("parquet"))
    val next = GraphArSink.versions(spark, base).max + 1
    val dir = s"$base/v$next"
    GraphArWriter.writeVertices(mutate(cur).orderBy(orderCol), dir, spec)
    info.vertices.filterNot(_.vertexType == vertexType).foreach { o =>
      referenceYaml(new Path(o.baseDir, s"${o.vertexType}.vertex.yaml"),
        new Path(dir, s"${o.vertexType}.vertex.yaml"), o.dir, conf)
    }
    info.edges.foreach { e =>
      referenceYaml(new Path(e.baseDir, s"${e.name}.edge.yaml"),
        new Path(dir, s"${e.name}.edge.yaml"), e.dir, conf)
    }
    val yaml = GraphArWriter.writeGraphYaml(dir, info.name,
      info.vertices.map(_.vertexType), info.edges.map(_.name), conf)
    GraphArSink.commitLatest(spark, base, yaml, conf)
    next
  }

  /** Property upsert of one vertex type in a multi-type graph — same
    * key contract as [[upsertVertices]].
    */
  def upsertVerticesOf(spark: SparkSession, base: String, vertexType: String,
                       updates: DataFrame, orderCol: String): Long = {
    val Array(n, uniq) = updates.agg(count(lit(1)), countDistinct(col(orderCol)))
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    require(n == uniq,
      s"updates frame has ${n - uniq} duplicate '$orderCol' keys — " +
        "pre-reduce to one row per key")
    commitVerticesOf(spark, base, vertexType, cur =>
      cur.join(updates.select(col(orderCol)), Seq(orderCol), "left_anti")
        .unionByName(updates), orderCol)
  }

  /** Remove (src, dst) keys from one type of a multi-type graph. */
  def removeEdgesOf(spark: SparkSession, base: String, edgeName: String,
                    keys: DataFrame): Long =
    commitEdgesOf(spark, base, edgeName,
      cur => cur.join(keys.select(col("src"), col("dst")).distinct(),
        Seq("src", "dst"), "left_anti"))

  /** Version N's table of one edge type, with (src, dst, props) names. */
  private def readEdgeTable(spark: SparkSession, yaml: String,
                            e: graft.meta.EdgeInfo): DataFrame =
    spark.read.format("graphar").option("path", yaml)
      .option("src", e.srcType).option("type", e.edgeType)
      .option("dst", e.dstType).load()
      .withColumnRenamed(GraphArMeta.SrcIndexCol, "src")
      .withColumnRenamed(GraphArMeta.DstIndexCol, "dst")

  /** Reconstruct the writer spec of an existing edge table. */
  private def specOf(e: graft.meta.EdgeInfo,
                     conf: Configuration,
                     newVertexCount: Option[Long]): GraphArWriter.EdgeSpec = {
    // the single count grows BOTH sides — only sound when src and dst
    // share one vertex space; on a bipartite type it would silently
    // redeclare the other side's count (phantom vertices, wrong degrees)
    newVertexCount.foreach { _ =>
      require(e.srcType == e.dstType,
        s"newVertexCount grows a shared src/dst vertex space; ${e.name} " +
          "has distinct vertex types — rewrite with an explicit EdgeSpec")
    }
    val srcCount = e.adjList("src").map(e.alignedVertexCount(_, conf))
    val dstCount = e.adjList("dst").map(e.alignedVertexCount(_, conf))
    val declared = srcCount.orElse(dstCount).get
    GraphArWriter.EdgeSpec(e.srcType, e.edgeType, e.dstType,
      srcVertexCount = newVertexCount.getOrElse(srcCount.getOrElse(declared)),
      dstVertexCount = newVertexCount.getOrElse(dstCount.getOrElse(declared)),
      chunkSize = e.chunkSize,
      srcChunkSize = e.srcChunkSize, dstChunkSize = e.dstChunkSize,
      fileType = e.adjLists.head.fileType, layouts = e.adjLists.map(_.alignedBy))
  }

  /** Copy a vertex/edge yaml into the new version dir with its top-level
    * `prefix:` repointed at the table's CURRENT resolved data dir, made
    * absolute (fs-qualified) so the reference survives any later version
    * directory. Every yaml in the versioned layout is writer-emitted, so
    * the non-indented `prefix:` line always exists.
    */
  private def referenceYaml(from: Path, to: Path, dataDir: String,
                            conf: Configuration): Unit = {
    val fs = from.getFileSystem(conf)
    val in = fs.open(from)
    val text = try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
      new String(out.toByteArray, "UTF-8")
    } finally in.close()
    val qualified = {
      val p = new Path(dataDir.stripSuffix("/"))
      p.getFileSystem(conf).makeQualified(p).toString + "/"
    }
    val rewritten = text.linesWithSeparators.map { line =>
      if (line.startsWith("prefix: ")) s"prefix: $qualified\n" else line
    }.mkString
    require(rewritten != text || text.contains(s"prefix: $qualified"),
      s"$from has no top-level prefix line to repoint")
    val out = fs.create(to, true)
    try out.write(rewritten.getBytes("UTF-8")) finally out.close()
  }

  /** Bootstrap a versioned vertex graph: writes `base/v0` and commits
    * LATEST — the batch twin of [[GraphArSink.vertices]]. Rows are
    * sorted by `orderCol` so `_graphArVertexIndex` is deterministic.
    */
  def initVertices(spark: SparkSession, base: String, rows: DataFrame,
                   graphName: String, spec: GraphArWriter.VertexSpec,
                   orderCol: String): Long = {
    val existing = GraphArSink.versions(spark, base)
    require(existing.isEmpty,
      s"$base already holds versions [${existing.mkString(", ")}] — " +
        "init would repoint LATEST backwards; use commitVertices/upsertVertices")
    writeVertexVersion(spark, base, 0L, rows.orderBy(orderCol), graphName, spec)
  }

  /** Property upsert: version N+1 = version N with `updates` rows
    * replacing same-key rows and novel-key rows appended — the standard
    * dimension-table maintenance verb, as a snapshot. Keys match on
    * `orderCol`, which also re-sorts the result so the vertex index
    * stays deterministic (ids of vertices AFTER an insertion point
    * shift, exactly like any re-written GraphAr vertex table — edge
    * tables referencing the old numbering belong to the old snapshot).
    */
  def upsertVertices(spark: SparkSession, base: String, updates: DataFrame,
                     orderCol: String): Long = {
    // same key-uniqueness contract as stageVertexDelta: two update rows
    // for one key would BOTH survive the anti-join + union and commit a
    // duplicate-key snapshot
    val Array(n, uniq) = updates.agg(count(lit(1)), countDistinct(col(orderCol)))
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    require(n == uniq,
      s"updates frame has ${n - uniq} duplicate '$orderCol' keys — " +
        "pre-reduce to one row per key")
    commitVertices(spark, base, cur =>
      cur.join(updates.select(col(orderCol)), Seq(orderCol), "left_anti")
        .unionByName(updates), orderCol)
  }

  /** Delete vertices whose `orderCol` key appears in `keys`. */
  def removeVertices(spark: SparkSession, base: String, keys: DataFrame,
                     orderCol: String): Long =
    commitVertices(spark, base,
      cur => cur.join(keys.select(col(orderCol)), Seq(orderCol), "left_anti"),
      orderCol)

  /** General copy-on-write vertex commit: `mutate` sees version N's
    * property columns (synthetic index dropped — it is derived from row
    * order, not stored identity) and returns the next table, re-sorted
    * by `orderCol` before writing.
    */
  def commitVertices(spark: SparkSession, base: String,
                     mutate: DataFrame => DataFrame, orderCol: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val curYaml = GraphArSink.latestYaml(spark, base)
    require(curYaml != null, s"no committed snapshot under $base — initVertices first")
    // same reorder hazard as edge commits: a snapshot commit under a
    // staged vertex log would have the staged upserts re-apply on top
    require(compacting.get() || liveVertexDeltas(spark, base).isEmpty,
      s"staged vertex deltas pending under $base — compactVertexDeltas " +
        "(or discard the vdelta dirs) before committing a snapshot mutation")
    val info = GraphArMeta.loadGraph(curYaml, conf)
    require(info.vertices.size == 1 && info.edges.isEmpty,
      s"commitVertices mutates single-vertex-type graphs (the versioned-" +
        s"sink layout); ${info.name} has ${info.vertices.size} vertex and " +
        s"${info.edges.size} edge types")
    val v = info.vertices.head
    val cur = spark.read.format("graphar").option("path", curYaml)
      .option("type", v.vertexType).load()
      .drop(GraphArMeta.VertexIndexCol)
    val spec = GraphArWriter.VertexSpec(v.vertexType, v.chunkSize,
      v.propertyGroups.headOption.map(_.fileType).getOrElse("parquet"))
    val next = GraphArSink.versions(spark, base).max + 1
    writeVertexVersion(spark, base, next, mutate(cur).orderBy(orderCol),
      info.name, spec)
  }

  private def writeVertexVersion(spark: SparkSession, base: String,
                                 version: Long, rows: DataFrame,
                                 graphName: String,
                                 spec: GraphArWriter.VertexSpec): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = s"$base/v$version"
    GraphArWriter.writeVertices(rows, dir, spec)
    val yaml = GraphArWriter.writeGraphYaml(dir, graphName,
      Seq(spec.vertexType), Seq.empty, conf)
    GraphArSink.commitLatest(spark, base, yaml, conf)
    version
  }

  // ------------------------------------------------------------- delta log
  //
  // A full snapshot per mutation is the right DURABILITY unit but the
  // wrong WRITE unit at 100 TB (every commit rewrites the edge table).
  // The delta log fixes the cost: stageDelta appends a tiny parquet pair
  // (adds + remove-keys) in O(delta); readers fold staged deltas over
  // the last full snapshot in order; compactDeltas folds them INTO the
  // next full snapshot (one rewrite amortizing any number of stages)
  // and retires the log. Same shape as log-structured table formats:
  // cheap appends, periodic compaction, snapshots stay the scan path.

  /** Stage a delta without rewriting the snapshot: `adds` rows (src,
    * dst, props...) and/or `removeKeys` (src, dst). O(delta) I/O. The
    * staged dir becomes visible to [[currentEdges]] only when its
    * `_COMMITTED` marker lands (written last), so a crash mid-stage
    * leaves an invisible partial dir. Returns the delta sequence number.
    */
  def stageDelta(spark: SparkSession, base: String,
                 adds: Option[DataFrame] = None,
                 removeKeys: Option[DataFrame] = None,
                 seq: Option[Long] = None): Long =
    stageDeltaIn(spark, base, None, adds, removeKeys, seq)

  /** Stage a delta against ONE type of a multi-type graph. Each type has
    * its own log (`base/delta/<Src_type_Dst>/`), staged and compacted
    * independently. O(delta) I/O, same `_COMMITTED` visibility rule.
    * `seq` pins the sequence number as an idempotency key (streaming
    * replay): staging an already-committed seq is a no-op.
    */
  def stageDeltaOf(spark: SparkSession, base: String, edgeName: String,
                   adds: Option[DataFrame] = None,
                   removeKeys: Option[DataFrame] = None,
                   seq: Option[Long] = None): Long =
    stageDeltaIn(spark, base, Some(edgeName), adds, removeKeys, seq)

  /** Per-type logs live under `base/delta/<name>/`; the single-type log
    * keeps the flat `base/delta/` layout. (Names matching `d<digits>`
    * would collide with the flat layout's entries, but GraphAr edge-type
    * names are `Src_type_Dst` triples — underscores never parse as a
    * sequence number, and [[stagedDeltasIn]] requires the numeric form.)
    */
  private def deltaRoot(base: String, edgeName: Option[String]): String =
    edgeName.fold(s"$base/delta")(n => s"$base/delta/$n")

  private def stageDeltaIn(spark: SparkSession, base: String,
                           edgeName: Option[String],
                           adds: Option[DataFrame],
                           removeKeys: Option[DataFrame],
                           seq: Option[Long] = None): Long = synchronized {
    require(adds.nonEmpty || removeKeys.nonEmpty, "empty delta")
    val conf = spark.sessionState.newHadoopConf()
    // resolve the snapshot unconditionally: a removes-only stage against
    // an uninitialized base would otherwise commit a delta that poisons
    // the log the moment initEdges creates v0
    val e = resolveEdge(spark, base, edgeName, conf)
    // fail at STAGE time, not at the eventual fold: adds or keys whose
    // columns don't match the snapshot's edge schema, or whose types
    // don't widen to it, would otherwise poison the log and break every
    // later currentEdges/compactDeltas; the files are written in the
    // snapshot's types, so the fold reads them without inference
    val addsRows = adds.map(conformTo(_, edgeSchema(e), "delta adds", "edge schema"))
    val removeRows = removeKeys.map(k =>
      conformTo(k.select(col("src"), col("dst")), KeySchema, "delta removeKeys", "edge key"))
    val root = deltaRoot(base, edgeName)
    val fs = new Path(root).getFileSystem(conf)
    val committed = stagedDeltasIn(spark, root)
    // explicit seq = idempotency key (streaming replay: a micro-batch
    // re-delivered after a failure must not stage twice). The staged-dir
    // check alone is NOT enough: compaction deletes the dirs after
    // folding them into the snapshot, so a batch re-delivered after a
    // crash between compactDeltas and the stream's checkpoint commit
    // would re-stage adds the snapshot already contains (multiset union
    // is not idempotent). The durable _MAX_SEQ watermark survives
    // compaction and closes that window.
    if (seq.exists(committed.contains)) return seq.get
    val watermark = maxSeqOf(root, conf)
    if (seq.exists(s => watermark.exists(s <= _))) return seq.get
    val next = seq.getOrElse(math.max(
      committed.lastOption.map(_ + 1).getOrElse(0L),
      watermark.map(_ + 1).getOrElse(0L)))
    val dir = s"$root/d$next"
    // a stage that crashed before its _COMMITTED marker leaves stale
    // adds/removes files; writing over the dir piecemeal would make the
    // crashed half visible alongside the new one — start clean
    if (fs.exists(new Path(dir)))
      fs.delete(new Path(dir), true)
    addsRows.foreach(_.write.mode("overwrite").parquet(s"$dir/adds"))
    removeRows.foreach(_.distinct().write.mode("overwrite").parquet(s"$dir/removes"))
    writeBaseVersion(spark, base, dir, conf)
    fs.create(new Path(s"$dir/_COMMITTED"), true).close()
    // watermark AFTER _COMMITTED: a crash in between leaves the dir
    // visible, so the committed-seq check still deduplicates the replay;
    // the reverse order would mark an unstaged batch as applied (loss)
    advanceMaxSeq(root, next, conf)
    maybeAutoCompact(spark, base, edgeName, root, e, conf)
    next
  }

  /** Auto-compaction: when the LIVE staged-delta count reaches
    * `spark.graft.maxStagedDeltas` (default 32; <= 0 disables), fold the
    * log into one snapshot right after the stage that crossed the line.
    * A folded read is one plan whatever the log length, so the cap
    * bounds the log's SIZE — the delta rows every read scans beside the
    * snapshot without a CSR seek, and the dirs each read lists — not a
    * per-delta plan cost.
    */
  private def maybeAutoCompact(spark: SparkSession, base: String,
                               edgeName: Option[String], root: String,
                               e: graft.meta.EdgeInfo,
                               conf: Configuration): Unit = {
    val cap = spark.conf.getOption("spark.graft.maxStagedDeltas")
      .map(_.toInt).getOrElse(32)
    if (cap <= 0) return
    if (liveDeltasIn(root, rewriteVersionOf(e.dir), conf).size >= cap)
      compactDeltasIn(spark, base, edgeName, None)
  }

  // -------------------------------------------------- replay watermark
  //
  // `<log root>/_MAX_SEQ` holds the highest delta seq ever committed to
  // the log. Staged dirs encode which seqs were applied only until
  // compaction deletes them; the watermark is the durable record that
  // outlives the dirs. Written with the same tmp + atomic-overwrite-
  // rename protocol as LATEST, so readers never observe a partial file.

  private def maxSeqOf(root: String, conf: Configuration): Option[Long] = {
    val p = new Path(s"$root/_MAX_SEQ")
    if (!p.getFileSystem(conf).exists(p)) None
    else scala.util.Try(readText(p, conf).trim.toLong).toOption
  }

  /** A small marker file's UTF-8 text. */
  private def readText(p: Path, conf: Configuration): String = {
    val in = p.getFileSystem(conf).open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
      new String(out.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** Monotonically advance the log's watermark to `seq` (no-op if the
    * current value is already >= seq).
    */
  private def advanceMaxSeq(root: String, seq: Long,
                            conf: Configuration): Unit = {
    if (maxSeqOf(root, conf).exists(_ >= seq)) return
    val p = new Path(s"$root/_MAX_SEQ")
    val tmp = new Path(s"$root/._MAX_SEQ.tmp")
    val fs = p.getFileSystem(conf)
    val out = fs.create(tmp, true)
    try out.write(seq.toString.getBytes("UTF-8")) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
    fc.rename(fs.makeQualified(tmp), fs.makeQualified(p),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Record the snapshot version a delta was staged against. A delta is
    * DEAD once its type's table has been rewritten at a later version
    * (every rewrite folds the whole live log — commits refuse
    * otherwise), so readers can ignore it even if a crash between a
    * compaction's commit and its log cleanup left the dir behind —
    * without this, the folded delta would re-apply on top of the
    * snapshot that already contains it.
    */
  private def writeBaseVersion(spark: SparkSession, base: String,
                               dir: String,
                               conf: Configuration): Unit = {
    val v = GraphArSink.versions(spark, base).max
    val p = new Path(s"$dir/_BASE_VERSION")
    val out = p.getFileSystem(conf).create(p, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The version whose directory holds this table's CURRENT data files
    * (follows zero-copy references — the resolved dir is always under
    * some `base/vN/`). None for non-versioned layouts.
    */
  private def rewriteVersionOf(resolvedDir: String): Option[Long] =
    "/v(\\d+)/(?:edge|vertex)/".r.findFirstMatchIn(resolvedDir)
      .map(_.group(1).toLong)

  /** One committed delta dir: its sequence number and the entries it
    * holds (`adds`, `removes`, `upserts`, `_BASE_VERSION`, ...).
    */
  private final case class StagedDelta(seq: Long, dir: Path, entries: Set[String]) {
    def has(entry: String): Boolean = entries(entry)
    def part(entry: String): String = new Path(dir, entry).toString
  }

  /** The committed deltas of the log at `root`, ascending — from one
    * listing of the root and one of each `d<seq>` dir: a dir counts once
    * its `_COMMITTED` marker is listed, and which parts it staged is
    * read off the same listing (no per-part existence probes).
    */
  private def logOf(root: String, conf: Configuration): Seq[StagedDelta] = {
    val p = new Path(root)
    val fs = p.getFileSystem(conf)
    // a missing root is an empty log; a dir a compaction removed
    // between the two listings is gone
    def list(dir: Path) =
      try fs.listStatus(dir).toSeq catch { case _: java.io.FileNotFoundException => Nil }
    list(p).filter(s => s.isDirectory && s.getPath.getName.matches("d\\d+"))
      .flatMap { s =>
        val entries = list(s.getPath).map(_.getPath.getName).toSet
        s.getPath.getName.drop(1).toLongOption.filter(_ => entries("_COMMITTED"))
          .map(StagedDelta(_, s.getPath, entries))
      }.sortBy(_.seq)
  }

  /** Committed deltas that are still LIVE: staged against (or after) the
    * type's last rewrite. Dead dirs — leftovers of a compaction that
    * crashed between commit and cleanup — are skipped by every reader
    * and removed by the next compaction. A dir without `_BASE_VERSION`
    * (a pre-watermark log) is live.
    */
  private def liveOf(log: Seq[StagedDelta], rewriteVersion: Option[Long],
                     conf: Configuration): Seq[StagedDelta] =
    rewriteVersion.fold(log)(rv => log.filter { d =>
      !d.has("_BASE_VERSION") || scala.util.Try(
        readText(new Path(d.dir, "_BASE_VERSION"), conf).trim.toLong)
        .toOption.forall(_ >= rv)
    })

  private def liveDeltasIn(root: String, rewriteVersion: Option[Long],
                           conf: Configuration): Seq[StagedDelta] =
    liveOf(logOf(root, conf), rewriteVersion, conf)

  /** The named edge type (or the single type when `edgeName` is None) of
    * the LATEST snapshot.
    */
  private def resolveEdge(spark: SparkSession, base: String,
                          edgeName: Option[String],
                          conf: Configuration): graft.meta.EdgeInfo = {
    val curYaml = GraphArSink.latestYaml(spark, base)
    require(curYaml != null, s"no committed snapshot under $base — init first")
    val info = GraphArMeta.loadGraph(curYaml, conf)
    edgeName match {
      case None =>
        require(info.edges.size == 1,
          s"${info.name} has ${info.edges.size} edge types — name one")
        info.edges.head
      case Some(n) => info.edges.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no edge type '$n' in " +
          s"${info.name}; has [${info.edges.map(_.name).mkString(", ")}]"))
    }
  }

  /** Committed delta sequence numbers, ascending. */
  def stagedDeltas(spark: SparkSession, base: String): Seq[Long] =
    stagedDeltasIn(spark, deltaRoot(base, None))

  /** Committed delta sequence numbers of one edge type's log, ascending. */
  def stagedDeltasOf(spark: SparkSession, base: String,
                     edgeName: String): Seq[Long] =
    stagedDeltasIn(spark, deltaRoot(base, Some(edgeName)))

  private def stagedDeltasIn(spark: SparkSession, root: String): Seq[Long] =
    logOf(root, spark.sessionState.newHadoopConf()).map(_.seq)

  /** The edge table as of LATEST snapshot + every staged delta, folded
    * in sequence (an add staged before a remove of the same key IS
    * removed, and vice versa). Standard (src, dst, props...) names.
    * One plan whatever the log length: one snapshot scan, one parquet
    * scan of every live delta's adds and, when the log holds removes,
    * one scan of them feeding a single anti-join. Building it lists the
    * log once and launches no Spark job (the delta files are read with
    * the snapshot's schema, so no schema inference runs).
    */
  def currentEdges(spark: SparkSession, base: String): DataFrame =
    currentEdgesIn(spark, base, None)

  /** One edge type of a multi-type graph, folded with ITS staged log. */
  def currentEdgesOf(spark: SparkSession, base: String,
                     edgeName: String): DataFrame =
    currentEdgesIn(spark, base, Some(edgeName))

  private def currentEdgesIn(spark: SparkSession, base: String,
                             edgeName: Option[String]): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val e = resolveEdge(spark, base, edgeName, conf)
    val snap = readEdgeTable(spark, GraphArSink.latestYaml(spark, base), e)
    val live = liveDeltasIn(deltaRoot(base, edgeName), rewriteVersionOf(e.dir), conf)
    def read(part: String, schema: StructType): Option[DataFrame] =
      Some(live.filter(_.has(part)).map(_.part(part))).filter(_.nonEmpty)
        .map(dirs => spark.read.schema(schema).parquet(dirs: _*))
    val adds = read("adds", edgeSchema(e))
    read("removes", KeySchema) match {
      case None => adds.fold(snap)(snap.unionByName(_))
      case Some(removes) =>
        // the sequential fold's multiset in one anti-join: a row added
        // by delta j (snapshot rows: -1) survives iff no delta k >= j
        // removes its key — so an add and a remove in one delta cancel
        val rows = snap.withColumn(SeqCol, lit(-1L))
        val tagged = adds.fold(rows)(a => rows.unionByName(a.withColumn(SeqCol, seqOf("adds"))))
        val lastRemove = removes.withColumn(SeqCol, seqOf("removes"))
          .groupBy(col("src").as("_rsrc"), col("dst").as("_rdst"))
          .agg(max(col(SeqCol)).as("_rseq"))
        tagged.join(lastRemove, col("src") === col("_rsrc") &&
          col("dst") === col("_rdst") && col(SeqCol) <= col("_rseq"), "left_anti")
          .drop(SeqCol)
    }
  }

  private val SeqCol = "_graftDeltaSeq"

  /** The sequence number of the delta a row of `part` was read from. */
  private def seqOf(part: String): Column =
    regexp_extract(col("_metadata.file_path"), s".*/d(\\d+)/$part/[^/]*$$", 1)
      .cast(LongType)

  private val KeySchema = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false)))

  /** The snapshot edge table's schema: (src, dst, properties...). */
  private def edgeSchema(e: graft.meta.EdgeInfo): StructType =
    StructType(KeySchema.fields ++ propertyFields(e.propertyGroups))

  private def propertyFields(groups: Seq[graft.meta.GarPropertyGroup]): Seq[StructField] =
    groups.flatMap(_.properties).map(p =>
      StructField(p.name, GraphArMeta.sparkType(p.dataType), p.isNullable))

  /** `df` with exactly `want`'s columns, in its order and types. A
    * column whose type Spark can widen to the snapshot's (int -> long,
    * float -> double, ...) is cast; any other mismatch is refused here,
    * at stage time, so no delta in the log can fail a later fold.
    */
  private def conformTo(df: DataFrame, want: StructType, what: String,
                        schemaName: String): DataFrame = {
    val got = df.schema
    require(got.fieldNames.toSet == want.fieldNames.toSet,
      s"$what columns ${got.fieldNames.mkString("(", ", ", ")")} don't match " +
        s"the $schemaName ${want.fieldNames.mkString("(", ", ", ")")}")
    val narrowed = want.fields.toSeq.collect {
      case f if !Cast.canUpCast(got(f.name).dataType, f.dataType) =>
        s"${f.name}: ${got(f.name).dataType.simpleString} -> ${f.dataType.simpleString}"
    }
    require(narrowed.isEmpty,
      s"$what column types don't widen to the snapshot's: ${narrowed.mkString(", ")}")
    df.select(want.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  /** SQL exposure of the delta-folded table: registers
    * `currentEdges(base)` as temp view `name`. A view (not a DSv2
    * option) on purpose — the fold is a union and an anti-join above
    * the snapshot scan, which is exactly what a Spark view IS; pushing
    * it inside the connector would hide joins from Catalyst.
    *
    * The registered plan pins the delta-dir file listings it saw: after
    * a compaction deletes those dirs, re-register (or re-call
    * currentEdges) — a held DataFrame over a retired log fails at
    * execution with missing-file errors, by design rather than silently
    * double-applying.
    */
  def registerCurrentView(spark: SparkSession, base: String,
                          name: String): Unit =
    currentEdges(spark, base).createOrReplaceTempView(name)

  /** Per-type SQL exposure for multi-type graphs. */
  def registerCurrentViewOf(spark: SparkSession, base: String,
                            edgeName: String, name: String): Unit =
    currentEdgesOf(spark, base, edgeName).createOrReplaceTempView(name)

  /** Fold every staged delta into one new full snapshot (ONE rewrite
    * amortizing the whole log), then retire the log. Returns the new
    * version, or -1 if there was nothing staged.
    */
  /** True while compactDeltas drives its own commit — the one caller
    * allowed to commit with a staged log present (it IS the fold).
    */
  private val compacting = new java.lang.ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  def compactDeltas(spark: SparkSession, base: String,
                    newVertexCount: Option[Long] = None): Long =
    compactDeltasIn(spark, base, None, newVertexCount)

  /** Fold one edge type's staged log into a new snapshot version (only
    * that type's table rewrites; the rest is referenced unchanged), then
    * retire that log. Other types' logs are untouched — they keep
    * folding over the new LATEST, whose referenced data is identical.
    */
  def compactDeltasOf(spark: SparkSession, base: String, edgeName: String,
                      newVertexCount: Option[Long] = None): Long =
    compactDeltasIn(spark, base, Some(edgeName), newVertexCount)

  private def compactDeltasIn(spark: SparkSession, base: String,
                              edgeName: Option[String],
                              newVertexCount: Option[Long]): Long = synchronized {
    val conf = spark.sessionState.newHadoopConf()
    val root = deltaRoot(base, edgeName)
    val fs = new Path(base).getFileSystem(conf)
    val e = resolveEdge(spark, base, edgeName, conf)
    val all = logOf(root, conf)
    val live = liveOf(all, rewriteVersionOf(e.dir), conf)
    // never delete a staged dir before the watermark covers its seq —
    // the dir is the only OTHER replay record (repairs a stage that
    // crashed between its _COMMITTED marker and its watermark write)
    all.lastOption.foreach(d => advanceMaxSeq(root, d.seq, conf))
    // dead dirs = a prior compaction crashed between commit and cleanup;
    // readers already ignore them, finish the cleanup here
    all.diff(live).foreach(d => fs.delete(d.dir, true))
    if (live.isEmpty) return -1L
    val folded = currentEdgesIn(spark, base, edgeName)
    // materialize before the snapshot swap: the folded plan reads the
    // CURRENT snapshot's files, and writeEdges reshuffles (no overlap
    // hazard — the new version lands in its own v-dir), but the delta
    // dirs must outlive the plan's execution, hence delete AFTER commit
    compacting.set(true)
    val v =
      try edgeName match {
        case None => commitEdges(spark, base, _ => folded, newVertexCount)
        case Some(n) => commitEdgesOf(spark, base, n, _ => folded, newVertexCount)
      }
      finally compacting.set(false)
    live.foreach(d => fs.delete(d.dir, true))
    v
  }

  /** Live (non-superseded) deltas of one log — see [[liveOf]]. */
  private def liveDeltas(spark: SparkSession, base: String,
                         edgeName: Option[String]): Seq[StagedDelta] = {
    val conf = spark.sessionState.newHadoopConf()
    val e = resolveEdge(spark, base, edgeName, conf)
    liveDeltasIn(deltaRoot(base, edgeName), rewriteVersionOf(e.dir), conf)
  }

  // ---------------------------------------------------- change data feed

  /** The multiset row diff of one edge type between two committed
    * snapshot versions: every row appears once per net copy added
    * (`_change_type = 'insert'`) or removed (`'delete'`) going from
    * `fromVersion` to `toVersion`. Columns: (src, dst, props...,
    * _change_type).
    *
    * Shape: tag each side ±1, group by ALL columns, sum — one shuffle,
    * no join (so null property values compare equal, which an equi-join
    * would get wrong), multigraph-correct because net counts carry
    * multiplicity. Rows identical in both versions never leave the
    * partial aggregate.
    */
  def edgeChanges(spark: SparkSession, base: String,
                  fromVersion: Long, toVersion: Long,
                  edgeName: Option[String] = None): DataFrame =
    multisetDiff(edgesAt(spark, base, fromVersion, edgeName),
      edgesAt(spark, base, toVersion, edgeName))

  /** The change feed from a committed version to the CURRENT state —
    * LATEST snapshot plus any staged-but-uncompacted deltas of that
    * type — so a downstream consumer can sync without waiting for the
    * next compaction.
    */
  def changesSince(spark: SparkSession, base: String, fromVersion: Long,
                   edgeName: Option[String] = None): DataFrame =
    multisetDiff(edgesAt(spark, base, fromVersion, edgeName),
      currentEdgesIn(spark, base, edgeName))

  private def multisetDiff(a: DataFrame, b: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val cols = a.columns.toSeq.map(col)
    val tagged = a.withColumn("_sign", lit(-1L))
      .unionByName(b.withColumn("_sign", lit(1L)))
    tagged.groupBy(cols: _*).agg(sum("_sign").as("_delta"))
      .filter(col("_delta") =!= 0L)
      .withColumn("_change_type",
        when(col("_delta") > 0, "insert").otherwise("delete"))
      .withColumn("_copy",
        explode(array_repeat(lit(1), abs(col("_delta")).cast("int"))))
      .select(cols :+ col("_change_type"): _*)
  }

  /** The vertex-table change feed between two committed versions: one
    * row per changed vertex row with `_change_type` insert/delete (an
    * updated key shows as delete-of-old + insert-of-new). Property
    * columns only — the synthetic index is row-order-derived and shifts
    * wholesale on insertion, which is exactly why it is excluded here.
    */
  def vertexChanges(spark: SparkSession, base: String,
                    fromVersion: Long, toVersion: Long): DataFrame =
    multisetDiff(verticesAt(spark, base, fromVersion),
      verticesAt(spark, base, toVersion))

  /** Maintain an out-degree table incrementally from the change feed:
    * `prev` is (grapharId, degree) as of the feed's `from` version,
    * `changes` is [[edgeChanges]]/[[changesSince]] output. Cost is
    * O(prev + changes) with one shuffle — at scale this replaces an
    * O(edges) rescan with a fold over what actually changed, the point
    * of having a CDF. Vertices never seen keep degree 0 only if present
    * in `prev`; a grown id space appears as soon as it gains an edge.
    */
  def maintainDegrees(prev: DataFrame, changes: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val delta = changes.groupBy(col("src").as(GraphArMeta.GidCol))
      .agg(sum(when(col("_change_type") === "insert", 1L)
        .otherwise(-1L)).as("degree"))
    prev.select(col(GraphArMeta.GidCol), col("degree"))
      .unionByName(delta)
      .groupBy(GraphArMeta.GidCol)
      .agg(sum("degree").as("degree"))
  }

  /** Maintain an undirected connected-components labeling from an
    * INSERT-ONLY change feed: a new edge can only MERGE components, so
    * the merge structure is fully captured by the O(changes) graph of
    * label pairs — union-find over that tiny graph on the driver, then
    * one broadcast relabel of `prev`. Cost: O(prev) map-side + O(changes)
    * driver work; no edge rescan, no iteration.
    *
    * `prev` is (grapharId, component); ids the feed introduces start as
    * their own singleton component before merging. A feed containing
    * deletes is refused — edge deletion can SPLIT a component, which
    * only a recompute over the surviving edges can decide.
    *
    * The driver union-find is bounded: the collected set is the DISTINCT
    * component-label pairs — O(batch) for the insert-only CDF batches
    * this maintains, but nothing stops a caller replaying a huge feed
    * range through it. Past `maxMergePairs` (default 8M ≈ a few hundred
    * MB of boxed rows, same sizing as the buildCsr guard) the incremental
    * shortcut no longer beats a recompute, so the call falls back to
    * [[GraphOps.connectedComponents]] over `fallbackEdges` when given,
    * else fails with that instruction rather than OOM-ing the driver.
    */
  def maintainComponents(prev: DataFrame, changes: DataFrame,
                         maxMergePairs: Int = 8000000,
                         fallbackEdges: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    require(changes.filter(col("_change_type") === "delete").isEmpty,
      "change feed contains deletes — a delete can split a component; " +
        "recompute components over the surviving edges instead")
    val inserts = changes.select(col("src"), col("dst"))
    // label of every id the feed touches: its prev component, else itself
    val ids = inserts.select(col("src").as(GraphArMeta.GidCol))
      .unionByName(inserts.select(col("dst").as(GraphArMeta.GidCol))).distinct()
    val touched = ids.join(prev, Seq(GraphArMeta.GidCol), "left")
      .select(col(GraphArMeta.GidCol),
        coalesce(col("component"), col(GraphArMeta.GidCol)).as("component"))
    // O(changes) label pairs -> driver union-find (the CDF batch bounds
    // this, not the graph). take(cap+1) collects AT MOST cap+1 rows —
    // an oversized feed is detected without materializing it.
    val pairDf = inserts
      .join(touched.withColumnRenamed(GraphArMeta.GidCol, "src")
        .withColumnRenamed("component", "_ca"), Seq("src"))
      .join(touched.withColumnRenamed(GraphArMeta.GidCol, "dst")
        .withColumnRenamed("component", "_cb"), Seq("dst"))
      .select(col("_ca"), col("_cb")).distinct()
    val collected = pairDf.take(maxMergePairs + 1)
    if (collected.length > maxMergePairs) {
      val edges = fallbackEdges.getOrElse(throw new IllegalArgumentException(
        s"change feed produced more than $maxMergePairs distinct merge " +
          "pairs — the incremental shortcut would collect them all to the " +
          "driver; pass fallbackEdges (the full current edge table) to " +
          "recompute, or raise maxMergePairs"))
      return graft.graph.GraphOps
        .connectedComponents(edges.sparkSession, edges)
        .select(col("v").as(GraphArMeta.GidCol), col("component"))
    }
    val pairs = collected.map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // SNAPSHOT the keys before resolving: find()'s path compression
    // writes into `parent`, and iterating the live keySet VIEW while
    // mutating the map silently DROPS keys (undefined iteration —
    // observed losing 7 of 11 merge labels, caught by the random
    // mixed-feed property spec; the lost labels served as stale
    // components). A materialized key list makes resolution total.
    val mapping = parent.keys.toList.map(k => k -> find(k)).toMap
    val remap = udf((c: Long) => mapping.getOrElse(c, c))
    // relabel prev map-side (broadcast closure), add the feed's new ids
    prev.select(col(GraphArMeta.GidCol), col("component"))
      .unionByName(touched.join(prev.select(col(GraphArMeta.GidCol)),
        Seq(GraphArMeta.GidCol), "left_anti"))
      .withColumn("component", remap(col("component")))
  }

  /** Delete-aware components IVM — the recompute-affected-subgraph
    * path [[maintainComponents]] refuses to fake: an edge delete can
    * SPLIT a component, and only re-solving connectivity over that
    * component's surviving edges can decide how. But only THAT
    * component's: the labels touched by deleted edges bound the
    * recompute exactly, so the cost is O(affected subgraph), never an
    * O(edges) rescan of the graph.
    *
    *   1. affected = prev labels of the deleted edges' endpoints;
    *   2. recompute [[graft.graph.GraphOps.connectedComponents]] over
    *      the PRE-INSERT surviving edges (survivors minus this feed's
    *      inserts — set semantics, connectivity ignores multiplicity)
    *      restricted to affected components;
    *   3. splice: unaffected labels verbatim ∪ the recomputed ones
    *      (vertices that lost their last edge drop out, matching a
    *      fresh recompute over the surviving edge set);
    *   4. the feed's inserts (if any) fold through the insert-only
    *      merge path — its driver union-find stays O(batch).
    *
    * `survivingEdges` is the post-feed edge table ((src, dst) — e.g.
    * [[edgesAt]] at the feed's `to` version, or [[currentEdges]]);
    * it doubles as the oversized-batch fallback's recompute input.
    * Labels stay canonical min-vertex-id in every path, so the result
    * is bit-identical to a full recompute — gate-checked by
    * `ga_ivm_components_del` and a randomized property spec. */
  def maintainComponentsWithDeletes(prev: DataFrame, changes: DataFrame,
                                    survivingEdges: DataFrame,
                                    maxMergePairs: Int = 8000000): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = prev.sparkSession
    val deletes = changes.filter(col("_change_type") === "delete")
      .select(col("src"), col("dst"))
    val inserts = changes.filter(col("_change_type") === "insert")
    if (deletes.isEmpty)
      return maintainComponents(prev, changes, maxMergePairs,
        Some(survivingEdges))
    // 1. components the deletes touch — O(changes) join keys
    val delIds = deletes.select(col("src").as(GraphArMeta.GidCol))
      .unionByName(deletes.select(col("dst").as(GraphArMeta.GidCol)))
      .distinct()
    val affected = delIds.join(prev, Seq(GraphArMeta.GidCol))
      .select(col("component")).distinct()
    // 2. surviving pre-insert edges of the affected components: one
    // src-side label probe suffices — a pre-insert edge existed at the
    // feed's from-version, so both endpoints share a prev component
    val memberSrc = prev.join(affected, Seq("component"))
      .select(col(GraphArMeta.GidCol).as("src"))
    val preInsert = survivingEdges.select(col("src"), col("dst")).distinct()
      .join(inserts.select(col("src"), col("dst")).distinct(),
        Seq("src", "dst"), "left_anti")
    val subEdges = preInsert.join(memberSrc, Seq("src"), "left_semi")
    val recomputed = graft.graph.GraphOps
      .connectedComponents(spark, subEdges)
      .select(col("v").as(GraphArMeta.GidCol), col("component"))
    // 3. splice (affected vertices that lost every edge drop out; the
    // insert phase re-introduces any that gained one this feed)
    val spliced = prev.join(affected, Seq("component"), "left_anti")
      .select(col(GraphArMeta.GidCol), col("component"))
      .unionByName(recomputed)
    // 4. remaining inserts through the insert-only merge path
    if (inserts.isEmpty) spliced
    else maintainComponents(spliced, inserts, maxMergePairs,
      Some(survivingEdges))
  }

  private def verticesAt(spark: SparkSession, base: String,
                         version: Long): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val yaml = GraphArSink.snapshotYaml(spark, base, version)
    val info = GraphArMeta.loadGraph(yaml, conf)
    require(info.vertices.size == 1,
      s"${info.name} has ${info.vertices.size} vertex types")
    spark.read.format("graphar").option("path", yaml)
      .option("type", info.vertices.head.vertexType).load()
      .drop(GraphArMeta.VertexIndexCol)
  }

  /** One edge type's table at a specific committed version. */
  private def edgesAt(spark: SparkSession, base: String, version: Long,
                      edgeName: Option[String]): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val yaml = GraphArSink.snapshotYaml(spark, base, version)
    val info = GraphArMeta.loadGraph(yaml, conf)
    val e = edgeName match {
      case None =>
        require(info.edges.size == 1,
          s"${info.name} has ${info.edges.size} edge types — name one")
        info.edges.head
      case Some(n) => info.edges.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no edge type '$n' in " +
          s"${info.name}; has [${info.edges.map(_.name).mkString(", ")}]"))
    }
    readEdgeTable(spark, yaml, e)
  }

  // ------------------------------------------------------ vertex delta log
  //
  // The edge log's twin for vertex tables: upserts and removes keyed by
  // the table's orderCol, staged in O(delta), folded over the snapshot
  // at read time, compacted into one rewrite. The synthetic vertex index
  // is row-order-derived, so the FOLDED VIEW exposes property columns
  // only — indexes materialize at compaction, when commitVertices
  // re-sorts by orderCol.

  /** Per-type vertex logs live under `base/vdelta/<Type>/`; the
    * single-type log keeps the flat `base/vdelta/` layout. A vertex
    * type named like `d<digits>` would collide with the flat layout's
    * entries, so per-type staging rejects that form.
    */
  private def vdeltaRoot(base: String, vertexType: Option[String]): String = {
    vertexType.foreach(t => require(!t.matches("d\\d+"),
      s"vertex type '$t' collides with the delta-dir naming scheme"))
    vertexType.fold(s"$base/vdelta")(t => s"$base/vdelta/$t")
  }

  /** The named vertex type (or the single type when None) of LATEST. */
  private def resolveVertexIn(spark: SparkSession, base: String,
                              vertexType: Option[String],
                              conf: Configuration): graft.meta.VertexInfo =
    vertexType match {
      case None => resolveVertex(spark, base, conf)
      case Some(n) =>
        val curYaml = GraphArSink.latestYaml(spark, base)
        require(curYaml != null, s"no committed snapshot under $base — init first")
        val info = GraphArMeta.loadGraph(curYaml, conf)
        info.vertices.find(_.vertexType == n).getOrElse(
          throw new IllegalArgumentException(s"no vertex type '$n' in " +
            s"${info.name}; has [${info.vertices.map(_.vertexType).mkString(", ")}]"))
    }

  /** Stage a vertex delta: `upserts` rows (full property schema; same-
    * key rows replace, novel keys append) and/or `removeKeys` (orderCol
    * values), applied in that order within one delta. `orderCol` is
    * recorded with the delta and must match across the log.
    */
  def stageVertexDelta(spark: SparkSession, base: String, orderCol: String,
                       upserts: Option[DataFrame] = None,
                       removeKeys: Option[DataFrame] = None,
                       seq: Option[Long] = None): Long =
    stageVertexDeltaIn(spark, base, None, orderCol, upserts, removeKeys, seq)

  /** Stage a vertex delta against ONE type of a multi-type graph. Each
    * type has its own log (`base/vdelta/<Type>/`), staged and compacted
    * independently — the vertex twin of [[stageDeltaOf]].
    */
  def stageVertexDeltaOf(spark: SparkSession, base: String, vertexType: String,
                         orderCol: String,
                         upserts: Option[DataFrame] = None,
                         removeKeys: Option[DataFrame] = None,
                         seq: Option[Long] = None): Long =
    stageVertexDeltaIn(spark, base, Some(vertexType), orderCol, upserts,
      removeKeys, seq)

  private def stageVertexDeltaIn(spark: SparkSession, base: String,
                                 vertexType: Option[String], orderCol: String,
                                 upserts: Option[DataFrame],
                                 removeKeys: Option[DataFrame],
                                 seq: Option[Long]): Long = synchronized {
    require(upserts.nonEmpty || removeKeys.nonEmpty, "empty delta")
    val conf = spark.sessionState.newHadoopConf()
    val v = resolveVertexIn(spark, base, vertexType, conf)
    val schema = vertexSchema(v)
    require(schema.fieldNames.contains(orderCol),
      s"orderCol '$orderCol' is not a property of ${v.vertexType} " +
        s"(${schema.fieldNames.mkString(", ")})")
    val upsertRows = upserts.map { df =>
      val rows = conformTo(df, schema, "upsert", "vertex property schema")
      // one row per key, or the fold's replace semantics are undefined —
      // an O(delta) check, and deltas are small by design
      val Array(n, uniq) = rows.agg(count(lit(1)), countDistinct(col(orderCol)))
        .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
      require(n == uniq,
        s"upsert frame has ${n - uniq} duplicate '$orderCol' keys — " +
          "pre-reduce the delta to one row per key (last-write-wins is " +
          "the caller's ordering decision)")
      rows
    }
    val removeRows = removeKeys.map { df =>
      require(df.columns.contains(orderCol),
        s"removeKeys must carry the '$orderCol' key column")
      conformTo(df.select(col(orderCol)), StructType(Seq(schema(orderCol))),
        "vertex removeKeys", "vertex key")
    }
    val root = vdeltaRoot(base, vertexType)
    val staged = stagedDeltasIn(spark, root)
    // consistency vs the LIVE log only — a dead leftover from a crashed
    // compaction must not veto a fresh log under a different key
    liveVertexDeltasIn(spark, base, vertexType).headOption.foreach { d =>
      val prior = readOrderCol(d, conf)
      require(prior == orderCol,
        s"log already staged under orderCol '$prior'; got '$orderCol'")
    }
    val fs = new Path(root).getFileSystem(conf)
    if (seq.exists(staged.contains)) return seq.get  // replay: no-op
    // durable replay watermark — same hazard and protocol as the edge
    // log (see stageDeltaIn): staged dirs die at compaction, _MAX_SEQ
    // doesn't
    val watermark = maxSeqOf(root, conf)
    if (seq.exists(s => watermark.exists(s <= _))) return seq.get
    val next = seq.getOrElse(math.max(
      staged.lastOption.map(_ + 1).getOrElse(0L),
      watermark.map(_ + 1).getOrElse(0L)))
    val dir = s"$root/d$next"
    // clear any crashed (uncommitted) leftover under the same seq
    if (fs.exists(new Path(dir))) fs.delete(new Path(dir), true)
    upsertRows.foreach(_.write.mode("overwrite").parquet(s"$dir/upserts"))
    removeRows.foreach(_.distinct().write.mode("overwrite").parquet(s"$dir/removes"))
    val out = fs.create(new Path(s"$dir/_ORDER_COL"), true)
    try out.write(orderCol.getBytes("UTF-8")) finally out.close()
    writeBaseVersion(spark, base, dir, conf)
    fs.create(new Path(s"$dir/_COMMITTED"), true).close()
    advanceMaxSeq(root, next, conf)
    // same log-size bound as the edge log
    val cap = spark.conf.getOption("spark.graft.maxStagedDeltas")
      .map(_.toInt).getOrElse(32)
    if (cap > 0 && liveVertexDeltasIn(spark, base, vertexType).size >= cap)
      compactVertexDeltasIn(spark, base, vertexType)
    next
  }

  /** Live (non-superseded) vertex deltas — see [[liveOf]]. */
  private def liveVertexDeltas(spark: SparkSession, base: String): Seq[StagedDelta] =
    liveVertexDeltasIn(spark, base, None)

  private def liveVertexDeltasIn(spark: SparkSession, base: String,
                                 vertexType: Option[String]): Seq[StagedDelta] = {
    val conf = spark.sessionState.newHadoopConf()
    val v = resolveVertexIn(spark, base, vertexType, conf)
    liveDeltasIn(vdeltaRoot(base, vertexType), rewriteVersionOf(v.dir), conf)
  }

  /** A vertex table's property columns (no synthetic index). */
  private def vertexSchema(v: graft.meta.VertexInfo): StructType =
    StructType(propertyFields(v.propertyGroups))

  /** Committed vertex-delta sequence numbers, ascending. */
  def stagedVertexDeltas(spark: SparkSession, base: String): Seq[Long] =
    stagedDeltasIn(spark, s"$base/vdelta")

  /** Committed vertex-delta sequence numbers of one type's log. */
  def stagedVertexDeltasOf(spark: SparkSession, base: String,
                           vertexType: String): Seq[Long] =
    stagedDeltasIn(spark, vdeltaRoot(base, Some(vertexType)))

  /** The vertex table's PROPERTY columns as of LATEST snapshot + every
    * staged vertex delta folded in sequence (within a delta: upserts,
    * then removes). No synthetic index — it is derived from row order
    * and only exists in committed snapshots; sort by the orderCol and
    * `row_number() - 1` if a provisional index is needed.
    */
  def currentVertices(spark: SparkSession, base: String): DataFrame =
    currentVerticesIn(spark, base, None)

  /** One vertex type of a multi-type graph, folded with ITS staged log. */
  def currentVerticesOf(spark: SparkSession, base: String,
                        vertexType: String): DataFrame =
    currentVerticesIn(spark, base, Some(vertexType))

  private def currentVerticesIn(spark: SparkSession, base: String,
                                vertexType: Option[String]): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val v = resolveVertexIn(spark, base, vertexType, conf)
    val snap = spark.read.format("graphar")
      .option("path", GraphArSink.latestYaml(spark, base))
      .option("type", v.vertexType).load()
      .drop(GraphArMeta.VertexIndexCol)
    val staged = liveDeltasIn(vdeltaRoot(base, vertexType), rewriteVersionOf(v.dir), conf)
    val schema = vertexSchema(v)
    val key = staged.headOption.map(readOrderCol(_, conf)).orNull
    // read with the snapshot's schema: no per-delta inference job
    staged.foldLeft(snap) { (cur, d) =>
      val withUps =
        if (d.has("upserts")) {
          val up = spark.read.schema(schema).parquet(d.part("upserts"))
          cur.join(up.select(col(key)), Seq(key), "left_anti")
            .unionByName(up.select(cur.columns.map(col).toSeq: _*))
        } else cur
      if (d.has("removes"))
        withUps.join(spark.read.schema(StructType(Seq(schema(key))))
          .parquet(d.part("removes")), Seq(key), "left_anti")
      else withUps
    }
  }

  /** Fold the staged vertex log into one new snapshot version (one
    * rewrite, index re-derived from the recorded orderCol sort), then
    * retire the log. Returns the new version, or -1 if nothing staged.
    */
  def compactVertexDeltas(spark: SparkSession, base: String): Long =
    compactVertexDeltasIn(spark, base, None)

  /** Fold one vertex type's staged log into a new snapshot (only that
    * type's table rewrites — everything else referenced zero-copy via
    * [[commitVerticesOf]]), then retire that log.
    */
  def compactVertexDeltasOf(spark: SparkSession, base: String,
                            vertexType: String): Long =
    compactVertexDeltasIn(spark, base, Some(vertexType))

  private def compactVertexDeltasIn(spark: SparkSession, base: String,
                                    vertexType: Option[String]): Long = synchronized {
    val conf = spark.sessionState.newHadoopConf()
    val root = vdeltaRoot(base, vertexType)
    val fs = new Path(base).getFileSystem(conf)
    val v = resolveVertexIn(spark, base, vertexType, conf)
    val all = logOf(root, conf)
    val live = liveOf(all, rewriteVersionOf(v.dir), conf)
    // watermark must cover every dir this compaction may delete (see
    // compactDeltasIn)
    all.lastOption.foreach(d => advanceMaxSeq(root, d.seq, conf))
    // leftovers of a compaction that crashed between commit and cleanup
    all.diff(live).foreach(d => fs.delete(d.dir, true))
    if (live.isEmpty) return -1L
    val orderCol = readOrderCol(live.head, conf)
    val folded = currentVerticesIn(spark, base, vertexType)
    compacting.set(true)
    val version =
      try vertexType match {
        case None => commitVertices(spark, base, _ => folded, orderCol)
        case Some(n) => commitVerticesOf(spark, base, n, _ => folded, orderCol)
      }
      finally compacting.set(false)
    live.foreach(d => fs.delete(d.dir, true))
    version
  }

  private def readOrderCol(d: StagedDelta, conf: Configuration): String =
    readText(new Path(d.dir, "_ORDER_COL"), conf)

  /** The single vertex type of the LATEST snapshot. */
  private def resolveVertex(spark: SparkSession, base: String,
                            conf: Configuration): graft.meta.VertexInfo = {
    val curYaml = GraphArSink.latestYaml(spark, base)
    require(curYaml != null, s"no committed snapshot under $base — initVertices first")
    val info = GraphArMeta.loadGraph(curYaml, conf)
    require(info.vertices.size == 1,
      s"${info.name} has ${info.vertices.size} vertex types — vertex " +
        "delta logs support the single-type versioned-sink layout")
    info.vertices.head
  }

  private def writeVersion(spark: SparkSession, base: String, version: Long,
                           edges: DataFrame, graphName: String,
                           spec: GraphArWriter.EdgeSpec): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = s"$base/v$version"
    GraphArWriter.writeEdges(edges, dir, spec)
    val yaml = GraphArWriter.writeGraphYaml(dir, graphName, Seq.empty,
      Seq(spec.name), conf)
    GraphArSink.commitLatest(spark, base, yaml, conf)
    version
  }
}
