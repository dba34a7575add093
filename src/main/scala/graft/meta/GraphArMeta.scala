package graft.meta

import java.io.{BufferedInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.{List => JList, Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types._
import org.yaml.snakeyaml.Yaml

/** GraphAr metadata model (Apache GraphAr `gar/v1`).
  *
  * Mirrors the YAML surface the reference consumes:
  *  - GraphInfo  — `<Graph>.yaml` (reference: `graphar::GraphInfo::Load`,
  *    src/functions/table/read_vertices.cpp:49-53)
  *  - VertexInfo — `<Type>.vertex.yaml` (read_base.hpp:149,174-182)
  *  - EdgeInfo   — `<Src>_<type>_<Dst>.edge.yaml` (read_edges.cpp:57)
  *
  * All file access goes through the Hadoop FileSystem API so paths may be
  * local, HDFS, or object-store URIs — the reference supports `s3://` the
  * same way (src/utils/func.cpp:132-148).
  */
final case class GarProperty(name: String, dataType: String,
                             isPrimary: Boolean, isNullable: Boolean)

final case class GarPropertyGroup(fileType: String, prefix: String,
                                  properties: Seq[GarProperty])

final case class GarAdjList(alignedBy: String, ordered: Boolean,
                            fileType: String, prefix: String)

final case class VertexInfo(vertexType: String, chunkSize: Long, prefix: String,
                            propertyGroups: Seq[GarPropertyGroup], baseDir: String) {
  def dir: String = GraphArMeta.resolveDir(baseDir, prefix)
  /** vertex_count: bare little-endian int64 (reference func.cpp:65-72). */
  def vertexCount(conf: Configuration): Long =
    GraphArMeta.readInt64(new Path(s"${dir}vertex_count"), conf)
  def numChunks(conf: Configuration): Long = {
    val n = vertexCount(conf)
    (n + chunkSize - 1) / chunkSize
  }
  /** Schema: synthetic index column first, then flattened property groups
    * in declaration order (reference read_base.hpp:145-196).
    */
  def schema: StructType = StructType(
    StructField(GraphArMeta.VertexIndexCol, LongType, nullable = false) +:
      propertyGroups.flatMap(_.properties.map(p =>
        StructField(p.name, GraphArMeta.sparkType(p.dataType), p.isNullable))))
}

final case class EdgeInfo(srcType: String, edgeType: String, dstType: String,
                          directed: Boolean, chunkSize: Long, srcChunkSize: Long,
                          dstChunkSize: Long, prefix: String,
                          adjLists: Seq[GarAdjList],
                          propertyGroups: Seq[GarPropertyGroup], baseDir: String) {
  def name: String = s"${srcType}_${edgeType}_${dstType}"
  def dir: String = GraphArMeta.resolveDir(baseDir, prefix)
  def adjList(alignedBy: String): Option[GarAdjList] =
    adjLists.find(_.alignedBy == alignedBy)
  def adjDir(al: GarAdjList): String = s"$dir${al.prefix}"
  def alignedChunkSize(al: GarAdjList): Long =
    if (al.alignedBy == "src") srcChunkSize else dstChunkSize
  /** Number of aligned vertices (reference func.cpp:156-160). */
  def alignedVertexCount(al: GarAdjList, conf: Configuration): Long =
    GraphArMeta.readInt64(new Path(s"${adjDir(al)}vertex_count"), conf)
  def numParts(al: GarAdjList, conf: Configuration): Long = {
    val n = alignedVertexCount(al, conf)
    math.max(1L, (n + alignedChunkSize(al) - 1) / alignedChunkSize(al))
  }
  /** edge_count<part>: edges in one vertex-chunk part (func.cpp:156-160). */
  def edgeCountOfPart(al: GarAdjList, part: Long, conf: Configuration): Long = {
    val p = new Path(s"${adjDir(al)}edge_count$part")
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) GraphArMeta.readInt64(p, conf) else 0L
  }
  def edgeCount(al: GarAdjList, conf: Configuration): Long =
    (0L until numParts(al, conf)).map(edgeCountOfPart(al, _, conf)).sum
  /** Offset table of one vertex-chunk part: cumulative [0..nEdgesInPart]
    * boundaries, one entry per vertex plus a trailing end (the reference
    * pairwise-diffs these — edges_vertex.cpp:166-192).
    */
  def offsetsOfPart(al: GarAdjList, part: Long, conf: Configuration): Array[Long]

  = GraphArMeta.readInt64Column(new Path(s"${adjDir(al)}offset/chunk$part"),
      al.fileType, conf)

  /** The [begin, end) edge-row range of ONE vertex — reads two offset
    * entries instead of the whole offset chunk, mirroring the reference's
    * single-vertex pushdown (edges_vertex.cpp:68-128). None when the id
    * is outside the aligned vertex range.
    */
  def offsetPair(al: GarAdjList, vid: Long, conf: Configuration): Option[(Long, Long)] = {
    val vcs = alignedChunkSize(al)
    if (vid < 0 || vid >= alignedVertexCount(al, conf)) return None
    val local = (vid % vcs).toInt
    val pair = GraphArMeta.readInt64ColumnRange(
      new Path(s"${adjDir(al)}offset/chunk${vid / vcs}"), al.fileType, conf,
      local, 2)
    if (pair.length < 2) None else Some((pair(0), pair(1)))
  }

  /** Driver-side dst ids of ONE vertex, given its [[offsetPair]] range
    * `[begin, end)`: O(degree) rows via the covering adjacency chunk(s),
    * in adjacency order and with multiplicity. The frontier read behind
    * [[graft.graph.GraphArGraph.twoHop]] and
    * [[graft.graph.GraphArGraph.oneMoreHop]]: no Spark job, same
    * round-trip class as [[offsetPair]]. */
  def adjacencyDsts(al: GarAdjList, vid: Long, range: (Long, Long),
                    conf: Configuration): Array[Long] = {
    val (begin, end) = range
    if (begin >= end) Array.empty[Long]
    else {
      val cs = chunkSize
      val part = vid / alignedChunkSize(al)
      val dstSchema = StructType(Seq(
        StructField(GraphArMeta.DstIndexCol, LongType, nullable = false)))
      (begin / cs to (end - 1) / cs).iterator.flatMap { ck =>
        val lo = math.max(0L, begin - ck * cs).toInt
        val hi = math.min(cs, end - ck * cs).toInt
        val it = graft.sources.graphar.ChunkIO.readRows(
          new Path(s"${adjDir(al)}adj_list/part$part/chunk$ck"),
          al.fileType, dstSchema, conf)
        val arr: Array[Long] =
          try it.slice(lo, hi).map(_(0).asInstanceOf[Long]).toArray
          finally it.close()
        arr
      }.toArray
    }
  }

  /** Batched [[offsetPair]] for a SORTED id set (the IN-seek shape):
    * one covering read per offset chunk instead of one file open per
    * id — a frontier of F ids spanning C chunks costs C driver-side
    * round-trips, not F. Out-of-range ids are simply absent from the
    * result. */
  def offsetPairs(al: GarAdjList, vids: Array[Long],
                  conf: Configuration): Map[Long, (Long, Long)] = {
    val vcs = alignedChunkSize(al)
    val n = alignedVertexCount(al, conf)
    val inRange = vids.filter(v => v >= 0 && v < n)
    if (inRange.isEmpty) return Map.empty
    inRange.groupBy(_ / vcs).iterator.flatMap { case (chunk, vs) =>
      val locals = vs.map(v => (v % vcs).toInt)
      val lo = locals.min
      val hi = locals.max
      val slab = GraphArMeta.readInt64ColumnRange(
        new Path(s"${adjDir(al)}offset/chunk$chunk"), al.fileType, conf,
        lo, hi - lo + 2)
      vs.iterator.flatMap { v =>
        val i = (v % vcs).toInt - lo
        if (i + 1 < slab.length) Some(v -> (slab(i), slab(i + 1))) else None
      }
    }.toMap
  }

  def schema: StructType = StructType(
    Seq(StructField(GraphArMeta.SrcIndexCol, LongType, nullable = false),
      StructField(GraphArMeta.DstIndexCol, LongType, nullable = false)) ++
      propertyGroups.flatMap(_.properties.map(p =>
        StructField(p.name, GraphArMeta.sparkType(p.dataType), p.isNullable))))
}

final case class GraphInfo(name: String, vertices: Seq[VertexInfo],
                           edges: Seq[EdgeInfo], baseDir: String) {
  def vertex(t: String): VertexInfo =
    vertices.find(_.vertexType == t).getOrElse(
      throw new IllegalArgumentException(s"no vertex type '$t' in graph $name"))
  def edge(src: String, t: String, dst: String): EdgeInfo =
    edges.find(e => e.srcType == src && e.edgeType == t && e.dstType == dst)
      .getOrElse(throw new IllegalArgumentException(
        s"no edge type ${src}_${t}_${dst} in graph $name"))
}

object GraphArMeta {
  /** Synthetic column names (reference include/utils/func.hpp:20-23). */
  val VertexIndexCol = "_graphArVertexIndex"
  val SrcIndexCol = "_graphArSrcIndex"
  val DstIndexCol = "_graphArDstIndex"
  val GidCol = "grapharId"

  /** A prefix is normally relative to the graph yaml's directory, but an
    * absolute path or full URI stands alone — that is how one snapshot
    * version references an unchanged table's data files in an earlier
    * version's directory without copying bytes (multi-type mutation
    * commits). Mirrors GraphAr's FileSystemFromUriOrPath acceptance of
    * both forms (reference func.cpp:126,132-148).
    */
  private[graft] def resolveDir(baseDir: String, prefix: String): String = {
    val absolute = prefix.startsWith("/") ||
      scala.util.Try(new Path(prefix).isAbsolute).getOrElse(false)
    if (absolute) prefix else s"$baseDir/$prefix"
  }

  /** GraphAr type → Spark type (reference func.cpp:18-28: exactly these 7
    * primitives; anything else throws).
    */
  def sparkType(t: String): DataType = t match {
    case "bool" => BooleanType
    case "int32" => IntegerType
    case "int64" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "string" => StringType
    case "date" => DateType
    case other => throw new IllegalArgumentException(s"unsupported GraphAr type: $other")
  }

  def garType(dt: DataType): String = dt match {
    case BooleanType => "bool"
    case IntegerType => "int32"
    case LongType => "int64"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case DateType => "date"
    case other => throw new IllegalArgumentException(s"unsupported Spark type for GraphAr: $other")
  }

  def readInt64(path: Path, conf: Configuration): Long = {
    val fs = path.getFileSystem(conf)
    val in = fs.open(path)
    try {
      val buf = new Array[Byte](8)
      in.readFully(0L, buf)
      ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN).getLong
    } finally in.close()
  }

  def writeInt64(path: Path, value: Long, conf: Configuration): Unit = {
    val fs = path.getFileSystem(conf)
    val out = fs.create(path, true)
    try {
      val buf = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      buf.putLong(value)
      out.write(buf.array())
    } finally out.close()
  }

  /** Read a single-int64-column chunk file (offset tables). */
  def readInt64Column(path: Path, fileType: String, conf: Configuration): Array[Long] = {
    val schema = StructType(Seq(StructField("_graphArOffset", LongType, nullable = false)))
    val it = graft.sources.graphar.ChunkIO.readRows(path, fileType, schema, conf)
    // finally-close: a throw mid-read (corrupt chunk) must not leak the
    // handle — these run inside executor flatMaps (degreesFast)
    try it.map(_(0).asInstanceOf[Long]).toArray
    finally it.close()
  }

  /** Read `count` entries of an int64-column chunk starting at `start`,
    * closing the reader early (point degree lookups read 2 of ~1M rows).
    */
  def readInt64ColumnRange(path: Path, fileType: String, conf: Configuration,
                           start: Int, count: Int): Array[Long] = {
    val schema = StructType(Seq(StructField("_graphArOffset", LongType, nullable = false)))
    val it = graft.sources.graphar.ChunkIO.readRows(path, fileType, schema, conf)
    try it.slice(start, start + count).map(_(0).asInstanceOf[Long]).toArray
    finally it.close()
  }

  private def str(m: JMap[String, Object], k: String): String =
    Option(m.get(k)).map(_.toString).orNull
  private def lng(m: JMap[String, Object], k: String, dflt: Long = -1): Long =
    Option(m.get(k)).map(_.toString.toLong).getOrElse(dflt)
  private def bool(m: JMap[String, Object], k: String, dflt: Boolean): Boolean =
    Option(m.get(k)).map(_.toString.toBoolean).getOrElse(dflt)
  private def seqOfMaps(m: JMap[String, Object], k: String): Seq[JMap[String, Object]] =
    Option(m.get(k)).map(_.asInstanceOf[JList[Object]].asScala.toSeq
      .map(_.asInstanceOf[JMap[String, Object]])).getOrElse(Seq.empty)

  private def loadYaml(path: Path, conf: Configuration): JMap[String, Object] = {
    val fs = path.getFileSystem(conf)
    val in = new BufferedInputStream(fs.open(path))
    try new Yaml().load[JMap[String, Object]](in)
    finally in.close()
  }

  private def parsePropertyGroups(m: JMap[String, Object]): Seq[GarPropertyGroup] =
    seqOfMaps(m, "property_groups").map { g =>
      GarPropertyGroup(
        fileType = str(g, "file_type"),
        prefix = Option(str(g, "prefix")).getOrElse(""),
        properties = seqOfMaps(g, "properties").map { p =>
          GarProperty(str(p, "name"), str(p, "data_type"),
            bool(p, "is_primary", dflt = false), bool(p, "is_nullable", dflt = true))
        })
    }

  def loadVertexInfo(path: Path, baseDir: String, conf: Configuration): VertexInfo = {
    val m = loadYaml(path, conf)
    val t = str(m, "type")
    // GraphAr treats top-level prefix as optional with a conventional
    // default — a missing key must not become a literal "null" segment
    val prefix = Option(str(m, "prefix")).getOrElse(s"vertex/$t/")
    VertexInfo(t, lng(m, "chunk_size"), prefix,
      parsePropertyGroups(m), baseDir)
  }

  def loadEdgeInfo(path: Path, baseDir: String, conf: Configuration): EdgeInfo = {
    val m = loadYaml(path, conf)
    val adj = seqOfMaps(m, "adj_lists").map { a =>
      GarAdjList(str(a, "aligned_by"), bool(a, "ordered", dflt = true),
        str(a, "file_type"), Option(str(a, "prefix")).getOrElse(""))
    }
    val (s, t, d) = (str(m, "src_type"), str(m, "edge_type"), str(m, "dst_type"))
    val prefix = Option(str(m, "prefix")).getOrElse(s"edge/${s}_${t}_$d/")
    EdgeInfo(s, t, d,
      bool(m, "directed", dflt = true), lng(m, "chunk_size"),
      lng(m, "src_chunk_size"), lng(m, "dst_chunk_size"), prefix,
      adj, parsePropertyGroups(m), baseDir)
  }

  /** Load a full GraphInfo from `<Graph>.yaml` (reference
    * graphar_storage.cpp:23-27). `baseDir` = the yaml's parent directory.
    */
  def loadGraph(yamlPath: String, conf: Configuration = new Configuration()): GraphInfo = {
    val p = new Path(yamlPath)
    val baseDir = Option(p.getParent).map(_.toString).getOrElse(".")
    val m = loadYaml(p, conf)
    val vs = Option(m.get("vertices")).map(_.asInstanceOf[JList[Object]].asScala.toSeq
      .map(v => loadVertexInfo(new Path(baseDir, v.toString), baseDir, conf)))
      .getOrElse(Seq.empty)
    val es = Option(m.get("edges")).map(_.asInstanceOf[JList[Object]].asScala.toSeq
      .map(e => loadEdgeInfo(new Path(baseDir, e.toString), baseDir, conf)))
      .getOrElse(Seq.empty)
    GraphInfo(str(m, "name"), vs, es, baseDir)
  }
}
