package graft.sources.graphar

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.meta._
import org.apache.spark.util.SerializableConfiguration

/** Spark DataSource V2 connector for Apache GraphAr graphs.
  *
  * Usage (mirrors the reference's two table functions,
  * `read_vertices` / `read_edges`, SURVEY.md §2.1):
  * {{{
  *   spark.read.format("graphar").option("path", "/g/Git.yaml")
  *     .option("type", "Person").load()                     // vertex table
  *   spark.read.format("graphar").option("path", "/g/Git.yaml")
  *     .option("src", "Person").option("type", "knows")
  *     .option("dst", "Person").load()                      // edge table
  * }}}
  *
  * Scale design (SURVEY.md §1.4 "Spark mapping"):
  *  - one InputPartition per GraphAr chunk → executors read chunks in
  *    parallel (the reference scan is single-threaded, SURVEY.md §3.1);
  *  - projection pushdown skips entire property-group files (reference
  *    flags projection_pushdown, read_vertices.cpp:125);
  *  - `_graphArVertexIndex = k` prunes to one chunk + one row (reference
  *    seek, read_vertices.cpp:98-108);
  *  - `_graphArSrcIndex = v` (resp. dst) picks the ordered_by_source
  *    (resp. _dest) CSR layout, reads the offset table driver-side and
  *    plans only the adjacency chunks covering [offset[v], offset[v+1])
  *    — O(degree) I/O, like read_edges.cpp:114-153;
  *  - COUNT(*) with no filters, or under a single-id seek, is answered
  *    from vertex_count/edge_count metadata files or two offset entries
  *    via aggregate pushdown, with no Spark job under [[MetadataCount]]
  *    (the reference scans instead — 5.9s/71s at LDBC-30, BASELINE.md —
  *    this is our designed win);
  *  - row counts reported to Catalyst via SupportsReportStatistics.
  */
class GraphArDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graphar"

  // Spark calls inferSchema then getTable on the SAME provider instance
  // per load(); memoize the parsed yamls so table resolution costs one
  // pass of driver-side FS round-trips, not two (GraphInfo loads every
  // vertex/edge yaml of the graph)
  @volatile private var cachedGraph: (String, GraphInfo) = _
  // (snapshotBase → resolved latest yaml), pinned for this instance
  @volatile private var resolvedLatest: (String, String) = _

  /** `path` names a graph yaml directly; alternatively `snapshotBase`
    * points at a [[graft.streaming.GraphArSink]] versioned layout and
    * `snapshot` selects "latest" (default) or a version number — the
    * time-travel read path over the sink's immutable snapshots.
    */
  private def resolvePath(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse {
      val base = Option(options.get("snapshotBase")).getOrElse(
        throw new IllegalArgumentException(
          "option 'path' (graph yaml) or 'snapshotBase' (versioned snapshot layout) is required"))
      val spark = org.apache.spark.sql.SparkSession.active
      val sel = Option(options.get("snapshot")).getOrElse("latest")
      // note: messages here must NOT start with "no " — metaOrNew treats
      // that prefix as "type missing → legal write target", and a
      // snapshot-resolution failure is never a write target
      if (sel.equalsIgnoreCase("latest")) {
        // resolve LATEST once per provider instance (Spark reuses the
        // instance across inferSchema/getTable of one load()): a sink
        // commit between the two calls must not tear schema and scan
        // across different snapshots
        val cached = resolvedLatest
        if (cached != null && cached._1 == base) cached._2
        else {
          val y = graft.streaming.GraphArSink.latestYaml(spark, base)
          if (y == null) throw new IllegalArgumentException(
            s"snapshotBase $base has no committed snapshot (LATEST pointer absent)")
          resolvedLatest = (base, y)
          y
        }
      } else {
        val v = try sel.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"option 'snapshot' must be 'latest' or a version number, got '$sel'")
        }
        graft.streaming.GraphArSink.snapshotYaml(spark, base, v)
      }
    }

  private def meta(options: CaseInsensitiveStringMap): (GraphInfo, Either[VertexInfo, EdgeInfo]) = {
    val path = resolvePath(options)
    val cached = cachedGraph
    val g = if (cached != null && cached._1 == path) cached._2 else {
      // session conf: yaml may live behind spark.hadoop.*-configured fs
      val loaded = GraphArMeta.loadGraph(path,
        org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
      cachedGraph = (path, loaded)
      loaded
    }
    val t = Option(options.get("type")).getOrElse(
      throw new IllegalArgumentException("option 'type' is required"))
    val which =
      if (options.containsKey("src") || options.containsKey("dst"))
        Right(g.edge(options.get("src"), t, options.get("dst")))
      else Left(g.vertex(t))
    (g, which)
  }

  /** The target type doesn't exist yet (new graph, or a new type in an
    * existing graph) — legal only as a WRITE target. Distinguished from
    * option errors, which keep propagating. The Right side carries the
    * original error message so a READ of the missing type can still fail
    * with the precise "no vertex type ..." diagnostic.
    */
  private def metaOrNew(options: CaseInsensitiveStringMap)
      : Either[(GraphInfo, Either[VertexInfo, EdgeInfo]), String] =
    try Left(meta(options))
    catch {
      case e: java.io.FileNotFoundException => // graph yaml absent
        Right(s"graph yaml not found: ${e.getMessage}")
      case e: IllegalArgumentException
        if e.getMessage != null && e.getMessage.startsWith("no ") =>
        Right(e.getMessage)
    }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    metaOrNew(options) match {
      case Left((_, Left(v))) => v.schema
      case Left((_, Right(e))) => e.schema
      // write target: the real schema comes with the data (the tables
      // declare ACCEPT_ANY_SCHEMA, so Spark skips compatibility checks)
      case Right(_) => StructType(Nil)
    }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    metaOrNew(options) match {
      case Left((_, Left(v))) => new GraphArVertexTable(v)
      case Left((_, Right(e))) => new GraphArEdgeTable(e)
      case Right(why) => new GraphArNewTable(options.get("type"), schema, why)
    }
  }

  override def supportsExternalMetadata(): Boolean = true
}

abstract class GraphArTable extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite {
  // BATCH_WRITE routes DataFrameWriter.save into the v2 write plans;
  // V1_BATCH_WRITE then dispatches our V1Write bridge inside them
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraphArWriteBuilder(info)
}

/** Write-only target for a type that doesn't exist yet. Declares
  * BATCH_READ so a READ of a mistyped/missing type reaches
  * newScanBuilder and fails with the precise original diagnostic
  * ("no vertex type 'X' in graph ...") instead of Spark's generic
  * capability error.
  */
class GraphArNewTable(typeName: String, writeSchema: StructType, whyMissing: String)
  extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"$typeName.new"
  override def schema(): StructType = writeSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    throw new IllegalArgumentException(
      s"cannot read '$typeName': $whyMissing (this target only accepts writes)")
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraphArWriteBuilder(info)
}

class GraphArVertexTable(val info: VertexInfo) extends GraphArTable {
  override def name(): String = s"${info.vertexType}.vertex"
  override def schema(): StructType = info.schema
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraphArScanBuilder(Left(info))
}

class GraphArEdgeTable(val info: EdgeInfo) extends GraphArTable {
  override def name(): String = s"${info.name}.edge"
  override def schema(): StructType = info.schema
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraphArScanBuilder(Right(info))
}

object GraphArScanBuilder {
  /** Seek-set cap for `id IN (...)` pushdown
    * (`spark.graft.seek.maxInValues`, default 4096): above it a full scan
    * is usually cheaper than per-value offset reads (each IN value costs
    * one driver-side offset-pair read — an object-store round-trip at
    * cluster scale), so the filter stays residual-only and the scan
    * stays a full scan. The hop plans of
    * [[graft.graph.GraphArGraph]] read the same bound, so a frontier they
    * push as `IN` is never above it. */
  def maxInSeek(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("spark.graft.seek.maxInValues").map(_.toInt)
      .getOrElse(4096)
}

/** Pushdown state: like the reference, a single equality filter on a
  * synthetic index column prunes I/O (read_base.hpp:281-304 parses exactly
  * one `col = const`). Property predicates (P3, read_vertices.cpp:109-114)
  * are ALSO pushed — evaluated inside the chunk readers via footer-stats
  * chunk skipping + per-row tests (PropFilters) — but stay residual in
  * Spark for safety; everything else is residual only.
  */
class GraphArScanBuilder(info: Either[VertexInfo, EdgeInfo])
  extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownAggregates {

  private val fullSchema = info.fold(_.schema, _.schema)
  // session conf captured at planning time so executor-side chunk I/O
  // keeps S3/HDFS credentials and fs.* settings (not a default conf)
  private val serConf = graft.util.SerializableHadoopConf(
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var hasResidual = false
  private var idFilter: Option[(String, Long)] = None
  private var idInFilter: Option[(String, Array[Long])] = None
  private var propFilters: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var countStarPushed = false

  private val maxInSeek: Int =
    GraphArScanBuilder.maxInSeek(org.apache.spark.sql.SparkSession.active)

  private val syntheticCols = Set(GraphArMeta.VertexIndexCol,
    GraphArMeta.SrcIndexCol, GraphArMeta.DstIndexCol)
  private val propCols = fullSchema.fieldNames.toSet -- syntheticCols

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val idCols = info match {
      case Left(_) => Seq(GraphArMeta.VertexIndexCol)
      case Right(e) =>
        // only ordered layouts that exist can serve an offset-table seek
        // (read_edges.cpp:85-92; an `ordered: false` adj list has no
        // meaningful offset ranges, so it must scan + residual-filter)
        Seq(GraphArMeta.SrcIndexCol, GraphArMeta.DstIndexCol).filter { c =>
          val aligned = if (c == GraphArMeta.SrcIndexCol) "src" else "dst"
          e.adjList(aligned).exists(_.ordered)
        }
    }
    val (accepted, rest) = filters.partition {
      case EqualTo(col, v: Long) => idFilter.isEmpty && idCols.contains(col) && { idFilter = Some((col, v)); true }
      case EqualTo(col, v: Int) => idFilter.isEmpty && idCols.contains(col) && { idFilter = Some((col, v.toLong)); true }
      case _ => false
    }
    // `id IN (v1..vk)` → k offset-range seeks instead of a full scan
    // (the multi-vertex frontier shape: two_hop's second hop). Kept
    // RESIDUAL like the property predicates — Spark re-checks the
    // filter, so the seek plan can only cut I/O, never change rows.
    rest.foreach {
      case f @ In(c, vs)
        if idFilter.isEmpty && idInFilter.isEmpty && idCols.contains(c) &&
          vs.nonEmpty && vs.length <= maxInSeek &&
          vs.forall(v => v.isInstanceOf[Long] || v.isInstanceOf[Int]) =>
        idInFilter = Some((c, vs.map {
          case v: Long => v
          case v: Int => v.toLong
        }.distinct.sorted))
      case _ =>
    }
    // property predicates: pushed into the readers AND kept residual —
    // Spark re-checks them, so reader-side pruning can only cut I/O
    propFilters = rest.filter(PropFilters.acceptable(_, propCols))
    pushed = accepted ++ propFilters ++
      (if (idInFilter.isDefined)
        rest.filter { case In(c, _) => idInFilter.exists(_._1 == c); case _ => false }
      else Array.empty[Filter])
    hasResidual = rest.nonEmpty
    rest
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushLimit(l: Int): Boolean = {
    // exact only when nothing is filtered after the scan
    if (!hasResidual) { limit = Some(l); true } else false
  }
  override def isPartiallyPushed: Boolean = false

  // a single-id seek is exact too: its count is the offset-pair length
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    isBareCountStar(aggregation) && !hasResidual && limit.isEmpty

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (!supportCompletePushDown(aggregation)) return false
    countStarPushed = true
    true
  }

  private def isBareCountStar(a: Aggregation): Boolean =
    a.groupByExpressions().isEmpty && a.aggregateExpressions().length == 1 &&
      a.aggregateExpressions()(0).isInstanceOf[CountStar]

  override def build(): Scan =
    new GraphArScan(info, required, idFilter, propFilters, limit,
      countStarPushed, serConf,
      // a single-id seek wins over the IN plan if both somehow arrive
      if (idFilter.isEmpty) idInFilter else None)
}

class GraphArScan(info: Either[VertexInfo, EdgeInfo], required: StructType,
                  idFilter: Option[(String, Long)], propFilters: Array[Filter],
                  limit: Option[Int], countStar: Boolean,
                  serConf: SerializableConfiguration,
                  idInFilter: Option[(String, Array[Long])] = None)
  extends Scan with Batch with SupportsReportStatistics with PushedCount {

  private def conf = serConf.value

  override def readSchema(): StructType =
    if (countStar) StructType(Seq(StructField("count(*)", LongType, nullable = false)))
    else required

  override def toBatch: Batch = this

  override def description(): String = {
    val what = info.fold(v => s"vertices ${v.vertexType}", e => s"edges ${e.name}")
    val props = if (propFilters.isEmpty) "" else
      s", pushedProps=[${propFilters.mkString(", ")}]"
    val inSeek = idInFilter.fold("")(f =>
      s", pushedIdIn=(${f._1}, ${f._2.length} values)")
    s"GraphArScan($what, pushedId=$idFilter$inSeek, limit=$limit, countStar=$countStar$props)"
  }

  // exact row counts: metadata for full scans, offset-table slice length
  // for pushed id filters — lets Catalyst auto-broadcast one-hop results.
  // Computed once per Scan: estimateStatistics can be called repeatedly
  // and the count branch of planInputPartitions reuses it (metadata reads
  // are driver-side FS round-trips, expensive on object stores).
  private lazy val metaRowCount: Long = (info, idFilter) match {
      case (Left(_), Some((_, vid))) => if (0 <= vid && vid < vertexCount) 1L else 0L
      case (Left(_), None) => idInFilter match {
        case Some((_, vids)) => vids.count(vid => vid >= 0 && vid < vertexCount).toLong
        case None => vertexCount
      }
      case (Right(e), Some((c, vid))) =>
        val al = if (c == GraphArMeta.DstIndexCol) e.adjList("dst").get
                 else e.adjList("src").get
        // two offset entries, not the whole (≤1M-row) offset chunk
        e.offsetPair(al, vid, conf).map { case (b, en) => en - b }.getOrElse(0L)
      case (Right(e), None) => idInFilter match {
        case Some(_) =>
          inSeekPairs(e).valuesIterator.map { case (b, en) => en - b }.sum
        case None =>
          e.adjLists.headOption.map(e.edgeCount(_, conf)).getOrElse(0L)
      }
    }

  /** The vertex table's `vertex_count`, read once per Scan. */
  private lazy val vertexCount: Long = info.fold(_.vertexCount(conf), _ => 0L)

  /** Layout for the IN-seek: same filter-column-driven choice as the
    * single-id seek (read_edges.cpp:81-110). */
  private def inSeekLayout(e: EdgeInfo): GarAdjList = idInFilter match {
    case Some((c, _)) if c == GraphArMeta.DstIndexCol => e.adjList("dst").get
    case Some((c, _)) if c == GraphArMeta.SrcIndexCol => e.adjList("src").get
    case _ => e.adjLists.head
  }

  /** One batched offset read for the whole IN set, shared by stats and
    * partition planning (computed once per Scan — these are driver-side
    * FS round-trips). */
  private lazy val inSeekPairs: EdgeInfo => Map[Long, (Long, Long)] = {
    var memo: Map[Long, (Long, Long)] = null
    e => {
      if (memo == null)
        memo = e.offsetPairs(inSeekLayout(e), idInFilter.get._2, conf)
      memo
    }
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(metaRowCount * (8L * fullWidth))
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(metaRowCount)
  }
  private def fullWidth = info.fold(_.schema.length, _.schema.length).max(1)

  override def planInputPartitions(): Array[InputPartition] =
    graft.util.Timing.timed(s"planInputPartitions ${description()}") {
      planInputPartitionsImpl()
    }

  override def pushedCount: Option[Long] = if (countStar) Some(metaRowCount) else None

  private def planInputPartitionsImpl(): Array[InputPartition] = {
    // reached for a pushed count only in a session without
    // GraftSparkSessionExtension (MetadataCount answers it otherwise)
    if (countStar) return Array(CountPartition(metaRowCount))
    pack(info match {
      case Left(v) => planVertex(v)
      case Right(e) => planEdge(e)
    })
  }

  /** Pack consecutive chunk partitions so each task covers a useful row
    * range. GraphAr fixtures (and any graph written with small
    * chunk_size) otherwise plan one tiny task per chunk — at 293 chunks
    * that is pure scheduler overhead, and at 100 TB on an object store
    * it is one GET round-trip per task. Packing is row-budget greedy and
    * order-preserving; a single chunk is never split, so synthetic-index
    * arithmetic and id-seek slices are untouched. Override with
    * `spark.graft.scan.rowsPerPartition`.
    */
  private def pack(parts: Array[InputPartition]): Array[InputPartition] = {
    if (parts.length <= 1) return parts
    def rowsOf(p: InputPartition): Long = p match {
      case v: VertexChunkPartition => v.rowEnd - v.rowStart
      case e: EdgeChunkPartition => e.rowEnd - e.rowStart
      case _ => 0L
    }
    val total = parts.map(rowsOf).sum
    val session = org.apache.spark.sql.SparkSession.active
    val target = session.conf.getOption("spark.graft.scan.rowsPerPartition")
      .map(_.toLong)
      .getOrElse {
        // ~3 waves of tasks across the cluster, floor of 8k rows/task
        val par = math.max(1, session.sparkContext.defaultParallelism)
        math.max(total / (3L * par), 8192L)
      }
    val out = Seq.newBuilder[InputPartition]
    val group = Seq.newBuilder[InputPartition]
    var gRows = 0L
    var gLen = 0
    def flush(): Unit = if (gLen > 0) {
      val g = group.result()
      out += (if (gLen == 1) g.head else PackedPartition(g))
      group.clear(); gRows = 0L; gLen = 0
    }
    parts.foreach { p =>
      group += p; gRows += rowsOf(p); gLen += 1
      if (gRows >= target) flush()
    }
    flush()
    out.result().toArray
  }

  private def planVertex(v: VertexInfo): Array[InputPartition] = {
    val n = vertexCount
    val cs = v.chunkSize
    idFilter match {
      case Some((_, vid)) =>
        if (vid < 0 || vid >= n || limit.exists(_ < 1)) Array.empty
        else Array(VertexChunkPartition(v, vid / cs, vid % cs, vid % cs + 1))
      case None if idInFilter.isDefined =>
        // ONE covering row-slice per touched chunk (ids arrive
        // sorted+distinct): decoding a chunk is all-or-nothing for the
        // row readers, so per-id slices would re-open and re-decode the
        // same chunk once per id. Over-read rows between ids are safe —
        // the IN filter stays RESIDUAL in Spark and drops them (and
        // limit is never pushed alongside a residual, so no interplay)
        // rowStart stays 0 (the pushed-limit shape) so the partitions
        // remain COLUMNAR-eligible — decode starts at row 0 either way,
        // and the vectorized residual filter is cheaper than a row-based
        // exact slice
        idInFilter.get._2.iterator
          .filter(vid => vid >= 0 && vid < n)
          .map(vid => (vid / cs, vid % cs))
          .toArray.groupBy(_._1).toArray.sortBy(_._1)
          .map { case (chunk, locals) =>
            VertexChunkPartition(v, chunk, 0,
              locals.map(_._2).max + 1): InputPartition
          }
      case None =>
        val nChunks = ((n + cs - 1) / cs).toInt
        var remaining = limit.map(_.toLong).getOrElse(Long.MaxValue)
        val parts = Seq.newBuilder[InputPartition]
        var k = 0
        while (k < nChunks && remaining > 0) {
          val rowsInChunk = math.min(cs, n - k * cs)
          val take = math.min(rowsInChunk, remaining)
          parts += VertexChunkPartition(v, k, 0, take)
          remaining -= take
          k += 1
        }
        parts.result().toArray
    }
  }

  private def planEdge(e: EdgeInfo): Array[InputPartition] = {
    // layout choice mirrors read_edges.cpp:81-110: src filter →
    // ordered_by_source, dst filter → ordered_by_dest, else first layout.
    val al = idFilter match {
      case Some((c, _)) if c == GraphArMeta.SrcIndexCol => e.adjList("src").get
      case Some((c, _)) if c == GraphArMeta.DstIndexCol => e.adjList("dst").get
      case _ if idInFilter.isDefined => inSeekLayout(e)
      case _ => e.adjLists.head
    }
    val cs = e.chunkSize
    if (idFilter.isEmpty && idInFilter.isDefined) {
      // offset ranges for the whole IN set from ONE batched read per
      // offset chunk, then ONE covering row-slice per touched adjacency
      // chunk: chunk decode is all-or-nothing for the row readers, so
      // per-id slices would re-open and re-decode a chunk once per id
      // (measured 2× a full scan on a 133-id frontier). Rows between
      // ids inside a covering slice are over-read and dropped by the
      // RESIDUAL IN filter in Spark; untouched chunks are pruned — the
      // plan degrades to ≈full-scan for a dense frontier and to
      // O(touched chunks) I/O for a sparse one.
      val vcs = e.alignedChunkSize(al)
      val pairs = inSeekPairs(e)
      return idInFilter.get._2.iterator.flatMap { vid =>
        pairs.get(vid).toSeq.flatMap { case (begin, end) =>
          if (begin >= end) Seq.empty
          else (begin / cs to (end - 1) / cs).map { ck =>
            (vid / vcs, ck,
              math.max(0L, begin - ck * cs), math.min(cs, end - ck * cs))
          }
        }
      }.toArray.groupBy(t => (t._1, t._2)).toArray.sortBy(_._1)
        .map { case ((part, ck), slices) =>
          // rowStart 0 keeps the pushed-limit partition shape → the scan
          // stays COLUMNAR; decode starts at row 0 either way and the
          // residual IN filter runs vectorized over the over-read head
          EdgeChunkPartition(e, al, part, ck,
            0, slices.map(_._4).max): InputPartition
        }
    }
    idFilter match {
      case Some((_, vid)) =>
        val vcs = e.alignedChunkSize(al)
        // two offset entries, not the whole offset chunk (the reference's
        // single-vertex pushdown shape, edges_vertex.cpp:68-128)
        val pair = e.offsetPair(al, vid, conf)
        if (pair.isEmpty) return Array.empty
        val part = vid / vcs
        val begin = pair.get._1
        // a fully-pushed LIMIT must also bound the id-seek slice (Spark
        // removes its own Limit operator when pushLimit succeeded);
        // guard: begin + MaxValue would overflow, so only add when set
        val end = limit.map(l => math.min(pair.get._2, begin + l.toLong))
          .getOrElse(pair.get._2)
        if (begin >= end) return Array.empty
        // adjacency chunks covering [begin, end) within this part
        (begin / cs to (end - 1) / cs).map { ck =>
          EdgeChunkPartition(e, al, part, ck,
            math.max(0L, begin - ck * cs), math.min(cs, end - ck * cs))
        }.toArray
      case None =>
        var remaining = limit.map(_.toLong).getOrElse(Long.MaxValue)
        val parts = Seq.newBuilder[InputPartition]
        val nParts = e.numParts(al, conf)
        var p = 0L
        while (p < nParts && remaining > 0) {
          val ec = e.edgeCountOfPart(al, p, conf)
          var ck = 0L
          while (ck * cs < ec && remaining > 0) {
            val rows = math.min(cs, ec - ck * cs)
            val take = math.min(rows, remaining)
            parts += EdgeChunkPartition(e, al, p, ck, 0, take)
            remaining -= take
            ck += 1
          }
          p += 1
        }
        parts.result().toArray
    }
  }

  /** Columnar emission is safe when no per-row work is pushed into the
    * readers: full-chunk scans (no id-seek slice — rowStart is always 0),
    * no property predicates, and every opened file has a vectorized
    * decoder (parquet or orc; csv's parser is row-at-a-time). Spark
    * requires the row/columnar choice to be uniform across a scan's
    * partitions, so this is decided scan-level, not per partition.
    */
  private val batchable = Set("parquet", "orc")
  // (IN-seek partitions keep rowStart 0 — the pushed-limit shape — so
  // they stay columnar; only the single-id row-slice path is row-based)
  private lazy val columnarEligible: Boolean =
    !countStar && idFilter.isEmpty &&
      propFilters.isEmpty && (info match {
      case Left(v) =>
        val names = required.fieldNames.toSet
        v.propertyGroups.forall(g =>
          !g.properties.exists(pr => names.contains(pr.name)) || batchable(g.fileType))
      case Right(e) =>
        val names = required.fieldNames.toSet
        val needAdj = names.contains(GraphArMeta.SrcIndexCol) ||
          names.contains(GraphArMeta.DstIndexCol)
        (!needAdj || batchable(e.adjLists.head.fileType)) &&
          e.propertyGroups.forall(g =>
            !g.properties.exists(pr => names.contains(pr.name)) || batchable(g.fileType))
    })

  override def createReaderFactory(): PartitionReaderFactory =
    new GraphArReaderFactory(required, propFilters, serConf, columnarEligible)
}

case class CountPartition(count: Long) extends InputPartition
/** Several consecutive chunk partitions served by one task (see pack). */
case class PackedPartition(parts: Seq[InputPartition]) extends InputPartition
case class VertexChunkPartition(info: VertexInfo, chunk: Long,
                                rowStart: Long, rowEnd: Long) extends InputPartition
case class EdgeChunkPartition(info: EdgeInfo, al: GarAdjList, part: Long,
                              chunk: Long, rowStart: Long, rowEnd: Long) extends InputPartition

class GraphArReaderFactory(required: StructType, propFilters: Array[Filter],
                           serConf: SerializableConfiguration, columnar: Boolean)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case CountPartition(n) => new SingleRowReader(n)
      case PackedPartition(ps) => new ConcatReader(ps.map(p => () => createReader(p)))
      case p: VertexChunkPartition => new VertexChunkReader(p, required, propFilters, serConf)
      case p: EdgeChunkPartition => new EdgeChunkReader(p, required, propFilters, serConf)
    }

  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    partition match {
      case PackedPartition(ps) =>
        new ConcatReader(ps.map(p => () => createColumnarReader(p)))
      case p: VertexChunkPartition =>
        new ColumnarChunkReader(
          () => GraphArColumnar.vertexGroups(p, required, serConf.value),
          required, _ => p.chunk * p.info.chunkSize, p.rowEnd)
      case p: EdgeChunkPartition =>
        new ColumnarChunkReader(
          () => GraphArColumnar.edgeGroups(p, required, serConf.value),
          required,
          n => throw new IllegalStateException(s"$n should come from the adjacency file"),
          p.rowEnd)
      case other =>
        throw new IllegalStateException(s"no columnar reader for $other")
    }
}

/** Chains sub-readers of a PackedPartition; opens each lazily so a
  * pushed limit/stats-skip never touches later chunks' files.
  */
class ConcatReader[T](subs: Seq[() => PartitionReader[T]])
  extends PartitionReader[T] {
  private var idx = 0
  private var cur: PartitionReader[T] = _
  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (idx >= subs.length) return false
        cur = subs(idx)(); idx += 1
      }
      if (cur.next()) return true
      cur.close(); cur = null
    }
    false // unreachable
  }
  override def get(): T = cur.get()
  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}

class SingleRowReader(n: Long) extends PartitionReader[InternalRow] {
  private var done = false
  override def next(): Boolean = if (done) false else { done = true; true }
  override def get(): InternalRow = InternalRow(n)
  override def close(): Unit = ()
}

/** Shared: convert chunk-IO JVM values to Catalyst values and assemble the
  * projected InternalRow. `sources` yields positionally-aligned rows from
  * each property group (plus synthetic index computation per subclass).
  *
  * Pushed property predicates (P3) are applied here, at the zip level —
  * AFTER the positional zip so property-group alignment is never broken:
  * a chunk whose parquet footer stats exclude the conjunction is skipped
  * unopened; surviving chunks emit only rows that pass the predicates.
  */
abstract class ChunkZipReader(required: StructType, propFilters: Array[Filter],
                              serConf: SerializableConfiguration)
  extends PartitionReader[InternalRow] {
  protected def conf: Configuration = serConf.value

  /** (reader, schema) per required property group, positionally aligned. */
  protected def groupIters: Seq[(ChunkIO.RowReader, StructType)]
  protected def rowStart: Long
  protected def rowEnd: Long
  /** synthetic column value for the current absolute row position. */
  protected def synthetic(name: String, pos: Long): Any
  /** (file, fileType) of group files that hold a filter-referenced
    * column — their statistics (parquet footer / orc file stats) decide
    * whether this chunk can be skipped unopened.
    */
  protected def statsCheckFiles: Seq[(Path, String)] = Seq.empty

  protected final def filterRefs: Set[String] =
    propFilters.flatMap(_.references).toSet

  private lazy val chunkCanMatch: Boolean =
    propFilters.isEmpty || statsCheckFiles.forall { case (path, ft) =>
      PropFilters.chunkCanMatch(path, ft, propFilters.toSeq, conf) &&
        // complementary to min/max stats: point lookups on unsorted
        // columns consult the optional per-chunk bloom sidecar
        PropFilters.bloomChunkCanMatch(path, propFilters.toSeq, conf)
    }

  // explicit var, NOT a lazy val: a failed lazy init would retry (and
  // re-open files) when close() touches it after an error. The field is
  // assigned BEFORE the seek loop, so close() on a failing task releases
  // the already-open readers; groupIters itself is open-safe (openAll).
  private var itersV: Seq[(ChunkIO.RowReader, StructType)] = null
  private def iters: Seq[(ChunkIO.RowReader, StructType)] = {
    if (itersV == null) {
      itersV = groupIters
      itersV.foreach { case (it, _) =>
        var i = 0L; while (i < rowStart && it.hasNext) { it.next(); i += 1 }
      }
    }
    itersV
  }
  private lazy val fieldSources: Array[Either[String, (Int, Int)]] =
    required.fields.map { f =>
      val hit = iters.zipWithIndex.flatMap { case ((_, sch), gi) =>
        val fi = sch.fieldNames.indexOf(f.name)
        if (fi >= 0) Some((gi, fi)) else None
      }
      f.name match {
        case n if n == GraphArMeta.VertexIndexCol || n == GraphArMeta.SrcIndexCol ||
          n == GraphArMeta.DstIndexCol =>
          // adjacency files materialize src/dst; prefer reading them
          hit.headOption.map(Right(_)).getOrElse(Left(n))
        case _ => Right(hit.headOption.getOrElse(
          throw new IllegalArgumentException(s"column ${f.name} not found in any property group")))
      }
    }
  // column → (group, field) lookup for predicate evaluation; filters on
  // columns that didn't land in any opened group are skipped (can only
  // happen defensively — residual Spark filters keep their columns in
  // `required`, so the groups are opened)
  private lazy val evalFilters: Array[Filter] = {
    val have = iters.flatMap(_._2.fieldNames).toSet
    propFilters.filter(_.references.forall(have.contains))
  }
  private lazy val filterSources: Map[String, (Int, Int)] =
    iters.zipWithIndex.flatMap { case ((_, sch), gi) =>
      sch.fieldNames.zipWithIndex.map { case (n, fi) => n -> (gi, fi) }
    }.toMap

  private def rowPasses: Boolean =
    evalFilters.isEmpty || {
      val get = (name: String) => filterSources.get(name)
        .map { case (gi, fi) => current(gi)(fi) }.orNull
      evalFilters.forall(PropFilters.evalRow(_, get))
    }

  private var pos = 0L
  private var current: Array[Array[Any]] = _

  override def next(): Boolean = {
    if (propFilters.nonEmpty && !chunkCanMatch) return false // stats-skipped
    while (rowStart + pos < rowEnd) {
      if (iters.isEmpty) {
        // index-only projection: no group file needed — row count comes
        // from the partition bounds (chunk size / vertex_count)
        current = Array.empty
        pos += 1
        return true
      }
      if (!iters.forall(_._1.hasNext)) return false
      current = iters.map(_._1.next()).toArray
      pos += 1
      if (rowPasses) return true
    }
    false
  }

  override def get(): InternalRow = {
    val absPos = rowStart + pos - 1
    val vals = new Array[Any](required.length)
    var i = 0
    while (i < required.length) {
      val raw = fieldSources(i) match {
        case Left(synthName) => synthetic(synthName, absPos)
        case Right((gi, fi)) => current(gi)(fi)
      }
      vals(i) = raw match {
        case s: String => UTF8String.fromString(s)
        case v => v
      }
      i += 1
    }
    InternalRow.fromSeq(vals.toSeq)
    }
  // only close what was actually opened — close() on a never-advanced
  // reader must not open files just to shut them
  override def close(): Unit = if (itersV != null) {
    itersV.foreach(_._1.close())
    itersV = null
  }
}

class VertexChunkReader(p: VertexChunkPartition, required: StructType,
                        propFilters: Array[Filter], serConf: SerializableConfiguration)
  extends ChunkZipReader(required, propFilters, serConf) {
  override protected def rowStart: Long = p.rowStart
  override protected def rowEnd: Long = p.rowEnd
  override protected def synthetic(name: String, pos: Long): Any =
    p.chunk * p.info.chunkSize + pos

  override protected def statsCheckFiles: Seq[(Path, String)] = {
    val refs = filterRefs
    p.info.propertyGroups.collect {
      case g if g.properties.exists(pr => refs.contains(pr.name)) =>
        (new Path(s"${p.info.dir}${g.prefix}chunk${p.chunk}"), g.fileType)
    }
  }

  override protected def groupIters: Seq[(ChunkIO.RowReader, StructType)] = {
    val requiredNames = required.fieldNames.toSet
    val specs = p.info.propertyGroups.flatMap { g =>
      val sch = StructType(g.properties
        .filter(pr => requiredNames.contains(pr.name))
        .map(pr => StructField(pr.name, GraphArMeta.sparkType(pr.dataType), pr.isNullable)))
      if (sch.isEmpty) None // projection pushdown: skip whole group file
      else Some((new Path(s"${p.info.dir}${g.prefix}chunk${p.chunk}"), g.fileType, sch))
    }
    ChunkIO.openAll(specs.map { case (path, ft, sch) =>
      () => ChunkIO.readRows(path, ft, sch, conf)
    }).zip(specs.map(_._3))
  }
}

class EdgeChunkReader(p: EdgeChunkPartition, required: StructType,
                      propFilters: Array[Filter], serConf: SerializableConfiguration)
  extends ChunkZipReader(required, propFilters, serConf) {
  override protected def rowStart: Long = p.rowStart
  override protected def rowEnd: Long = p.rowEnd
  override protected def synthetic(name: String, pos: Long): Any =
    throw new IllegalStateException(s"$name should come from the adjacency file")

  override protected def statsCheckFiles: Seq[(Path, String)] = {
    val refs = filterRefs
    p.info.propertyGroups.collect {
      case g if g.properties.exists(pr => refs.contains(pr.name)) =>
        (new Path(s"${p.info.adjDir(p.al)}${g.prefix}part${p.part}/chunk${p.chunk}"),
          g.fileType)
    }
  }

  override protected def groupIters: Seq[(ChunkIO.RowReader, StructType)] = {
    val requiredNames = required.fieldNames.toSet
    val adjSchemaAll = StructType(Seq(
      StructField(GraphArMeta.SrcIndexCol, LongType, nullable = false),
      StructField(GraphArMeta.DstIndexCol, LongType, nullable = false)))
    val adjSch0 = StructType(adjSchemaAll.filter(f => requiredNames.contains(f.name)))
    val adjSch = if (adjSch0.isEmpty) adjSchemaAll else adjSch0
    // always open the adjacency file (it drives row positions even if only
    // properties are projected)
    val adjPath = new Path(s"${p.info.adjDir(p.al)}adj_list/part${p.part}/chunk${p.chunk}")
    val specs = (adjPath, p.al.fileType, adjSch) +:
      p.info.propertyGroups.flatMap { g =>
        val sch = StructType(g.properties
          .filter(pr => requiredNames.contains(pr.name))
          .map(pr => StructField(pr.name, GraphArMeta.sparkType(pr.dataType), pr.isNullable)))
        if (sch.isEmpty) None
        else Some((new Path(s"${p.info.adjDir(p.al)}${g.prefix}part${p.part}/chunk${p.chunk}"),
          g.fileType, sch))
      }
    ChunkIO.openAll(specs.map { case (path, ft, sch) =>
      () => ChunkIO.readRows(path, ft, sch, conf)
    }).zip(specs.map(_._3))
  }
}
