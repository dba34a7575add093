package graft.sources.graphar

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.Partitioner
import org.apache.spark.TaskContext
import org.apache.spark.rdd.ShuffledRDD
import org.apache.spark.serializer.KryoSerializer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.meta.GraphArMeta

/** Distributed GraphAr writer.
  *
  * The reference is strictly read-only (writes throw,
  * graphar_catalog.cpp:61-76) — this is the "natural later extension"
  * SURVEY.md §2.1 anticipates, and it also generates our test fixtures.
  *
  * Scale design: vertices are indexed with one zipWithIndex pass and
  * written chunk-per-task; edges are shuffled and sorted by (src, dst)
  * (Kryo-serialized, property values already in their file encoding)
  * with one partition per aligned-vertex chunk ("part"), so
  * each task streams its part once, rolling adjacency/property chunk files
  * every `chunk_size` rows and accumulating the CSR offset table
  * (cumulative per-vertex boundaries + trailing end — the layout the
  * reference pairwise-diffs in edges_vertex.cpp:166-192). No driver
  * collection anywhere.
  *
  * Layout written (GraphAr gar/v1):
  * {{{
  *   <base>/<Graph>.yaml, <Type>.vertex.yaml, <S>_<t>_<D>.edge.yaml
  *   <base>/vertex/<Type>/<prop_group>/chunk<k>, vertex_count
  *   <base>/edge/<S>_<t>_<D>/ordered_by_<src|dest>/
  *       adj_list/part<p>/chunk<k>, <prop_group>/part<p>/chunk<k>,
  *       offset/chunk<p>, edge_count<p>, vertex_count
  * }}}
  */
object GraphArWriter {

  /** `maxTasks`: cap on write-shuffle tasks for this type. By default
    * one task writes one vertex chunk (resp. one aligned-vertex part of
    * the edge CSR) — the natural unit, since each chunk file has exactly
    * one writer. On graphs whose chunkSize makes chunks tiny relative to
    * the cluster (millions of 4 KB chunks → per-task overhead dominates)
    * set maxTasks ≈ 3× cluster parallelism and each task packs a
    * CONSECUTIVE run of chunks/parts — the write-side mirror of the read
    * path's chunk-packed scan tasks. Output bytes are identical either
    * way (verified by RoundTripSpec).
    */
  /** `bloomCols`: integral/string/date property columns to index with a
    * per-chunk bloom-filter sidecar (`chunkN.bloom`, [[BloomSidecar]]).
    * Complements footer min/max stats: point lookups (`=` / `IN`) on
    * UNSORTED high-cardinality columns — where every chunk's min/max
    * range spans the probe and stats prune nothing — skip all chunks
    * but the (expected) fpp·nChunks false-positive ones unopened.
    */
  final case class VertexSpec(vertexType: String, chunkSize: Long = 1L << 20,
                              fileType: String = "parquet",
                              maxTasks: Option[Int] = None,
                              bloomCols: Seq[String] = Seq.empty,
                              bloomFpp: Double = 0.01)

  /** `bloomCols`: edge PROPERTY columns to index with per-chunk bloom
    * sidecars (same semantics as [[VertexSpec.bloomCols]]); src/dst are
    * excluded — the CSR layout already serves id seeks exactly. At the
    * default 4M-edge chunks a sidecar is ~5 MB/column at 1% fpp, ≈0.1%
    * of the chunk it can save reading.
    */
  final case class EdgeSpec(srcType: String, edgeType: String, dstType: String,
                            srcVertexCount: Long, dstVertexCount: Long,
                            chunkSize: Long = 1L << 22,
                            srcChunkSize: Long = 1L << 20,
                            dstChunkSize: Long = 1L << 20,
                            fileType: String = "parquet",
                            layouts: Seq[String] = Seq("src", "dst"),
                            maxTasks: Option[Int] = None,
                            bloomCols: Seq[String] = Seq.empty,
                            bloomFpp: Double = 0.01) {
    def name: String = s"${srcType}_${edgeType}_${dstType}"
  }

  /** Validate an explicit property-group spec against the available
    * property columns: every property assigned exactly once, no unknown
    * or endpoint columns, unique group names, and no group name that
    * collides with the layout's reserved directories. Shared by the
    * vertex and edge writers so the two contracts cannot diverge.
    */
  private def validateGroups(api: String, groups: Seq[(String, Seq[String])],
                             propNames: Set[String],
                             reserved: Set[String]): Unit = {
    val names = groups.map(_._1)
    require(names.distinct.size == names.size,
      s"$api: duplicate group name(s) ${names.diff(names.distinct).distinct.mkString(", ")}")
    val clash = names.filter(reserved.contains)
    require(clash.isEmpty,
      s"$api: group name(s) ${clash.mkString(", ")} collide with reserved layout dirs")
    val assigned = groups.flatMap(_._2)
    require(assigned.distinct.size == assigned.size,
      s"$api: a property may appear in only one group " +
        s"(${assigned.diff(assigned.distinct).distinct.mkString(", ")})")
    val unknown = assigned.filterNot(propNames.contains)
    require(unknown.isEmpty,
      s"$api: unknown or non-property column(s) ${unknown.mkString(", ")}")
    val missing = propNames -- assigned.toSet
    require(missing.isEmpty,
      s"$api: properties ${missing.mkString(", ")} not assigned to any group")
  }

  /** units-per-task for packing `units` work units into ≤ maxTasks. */
  private def packFactor(units: Int, maxTasks: Option[Int]): Int =
    maxTasks.filter(_ > 0).map(mt => (units + mt - 1) / mt).getOrElse(1)

  /** Partitioner composing [[IdPartitioner]] with task packing: ids map
    * to their chunk, consecutive `factor` chunks share one task.
    */
  private class PackedIdPartitioner(nUnits: Int, chunkSize: Long, factor: Int)
    extends Partitioner {
    private val inner = new IdPartitioner(nUnits, chunkSize)
    override def numPartitions: Int = (inner.numPartitions + factor - 1) / factor
    override def getPartition(key: Any): Int = inner.getPartition(key) / factor
  }

  /** Task-attempt output staging: every file a task writes goes to a
    * hidden `.<name>.attempt<id>` sibling first and is renamed into place
    * only on commit(). A dying or zombie attempt (speculation, retry)
    * therefore never leaves a half-written file at a final path; because
    * the input to each task is deterministic (sorted shuffle), racing
    * successful attempts rename byte-identical files, so any interleaving
    * of per-file atomic renames is correct.
    */
  private class TaskFiles(conf: Configuration) {
    private val staged = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)]
    private def attemptId: Long =
      Option(TaskContext.get()).map(_.taskAttemptId()).getOrElse(0L)
    def stage(finalPath: Path): Path = {
      val tmp = new Path(finalPath.getParent,
        s".${finalPath.getName}.attempt$attemptId")
      staged += ((tmp, finalPath))
      tmp
    }
    def commit(): Unit = staged.foreach { case (tmp, fin) =>
      val fs = fin.getFileSystem(conf)
      if (fs.exists(fin)) fs.delete(fin, false)
      if (!fs.rename(tmp, fin)) {
        // Racing successful attempts write byte-identical files, so a
        // failed rename whose destination was just installed by the other
        // attempt (same length) is a success, not an error.
        val racedIdentical =
          try fs.exists(fin) && fs.exists(tmp) &&
            fs.getFileStatus(fin).getLen == fs.getFileStatus(tmp).getLen
          catch { case scala.util.control.NonFatal(_) => false }
        if (!racedIdentical)
          throw new java.io.IOException(s"commit rename $tmp -> $fin failed")
        fs.delete(tmp, false)
      }
    }
    def abort(): Unit = staged.foreach { case (tmp, _) =>
      val fs = tmp.getFileSystem(conf)
      if (fs.exists(tmp)) fs.delete(tmp, false)
    }
  }

  private class IdPartitioner(n: Int, chunkSize: Long) extends Partitioner {
    override def numPartitions: Int = math.max(n, 1)
    override def getPartition(key: Any): Int = {
      val id = key match {
        case i: Long => i
        case (s: Long, _) => s
      }
      val p = (id / chunkSize).toInt
      if (id < 0 || p >= numPartitions)
        throw new IllegalArgumentException(
          s"id $id outside the declared aligned-vertex range " +
            s"[0, ${numPartitions * chunkSize}) — check the *VertexCount spec fields")
      p
    }
  }

  /** Write one vertex type. `df`'s row order defines `_graphArVertexIndex`
    * (sort the DataFrame first if the index must follow a key). All
    * non-synthetic columns become one property group per column-group in
    * `groups` (default: a single group named "props" with every column).
    * Returns the vertex count.
    */
  def writeVertices(df: DataFrame, baseDir: String, spec: VertexSpec,
                    groups: Seq[(String, Seq[String])] = Seq.empty): Long = {
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val serConf = graft.util.SerializableHadoopConf(conf)
    val schema = df.schema
    val effGroups: Seq[(String, Seq[String])] =
      if (groups.nonEmpty) {
        validateGroups("writeVertices", groups, schema.fieldNames.toSet,
          reserved = Set.empty)
        groups
      } else Seq("props" -> schema.fieldNames.toSeq)
    val dir = s"$baseDir/vertex/${spec.vertexType}/"
    val cs = spec.chunkSize
    val ft = spec.fileType

    // cache the indexed RDD: it feeds both the count and the shuffle, and
    // recomputing a nondeterministic source could break the partitioner
    val indexed = df.rdd.zipWithIndex().map { case (r, i) => (i, r) }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nChunks = {
      val n = indexed.count()
      math.max(1L, (n + cs - 1) / cs).toInt
    }
    val bloomSet = {
      val missing = spec.bloomCols.filterNot(schema.fieldNames.contains)
      require(missing.isEmpty,
        s"writeVertices: bloomCols not in the schema: ${missing.mkString(", ")}")
      spec.bloomCols.foreach { c =>
        schema(c).dataType match {
          case ByteType | ShortType | IntegerType | LongType | StringType |
               DateType => // bloom-indexable
          case dt => throw new IllegalArgumentException(
            s"writeVertices: bloomCols column $c has type $dt — only " +
              "integral, string and date columns are bloom-indexable")
        }
      }
      spec.bloomCols.toSet
    }
    val groupSchemas = effGroups.map { case (gName, cols) =>
      (gName, cols.map(c => schema(schema.fieldIndex(c))),
        cols.map(c => schema.fieldIndex(c)),
        // (position inside the group row, column name) per bloomed column
        cols.zipWithIndex.collect { case (c, gi) if bloomSet(c) => (gi, c) })
    }
    implicit val ord: Ordering[Long] = Ordering.Long
    val factor = packFactor(nChunks, spec.maxTasks)
    val counts = indexed
      .repartitionAndSortWithinPartitions(new PackedIdPartitioner(nChunks, cs, factor))
      .mapPartitions { it =>
        val taskConf = serConf.value
        val files = new TaskFiles(taskConf)
        // ids arrive sorted, so a task's chunks fill strictly in order;
        // roll the per-group sinks on each chunk boundary (factor chunks
        // per task; ids are dense 0..n-1, so no chunk in range is empty)
        var chunk = -1L
        var sinks: Seq[(ChunkIO.RowSink, Seq[Int],
          Seq[(Int, String, org.apache.spark.util.sketch.BloomFilter)], Path)] = null
        def closeSinks(): Unit = if (sinks != null) {
          // sidecar written AFTER its chunk closes, so its mtime is never
          // older (the reader's stale-sidecar guard relies on this)
          sinks.foreach { case (sink, _, blooms, bloomPath) =>
            sink.close()
            if (bloomPath != null)
              BloomSidecar.write(bloomPath, taskConf,
                blooms.map { case (_, name, bf) => (name, bf) })
          }
          sinks = null
        }
        def roll(c: Long): Unit = {
          closeSinks()
          chunk = c
          sinks = groupSchemas.map { case (gName, fields, idxs, bloomPos) =>
            val p = files.stage(new Path(s"$dir$gName/chunk$chunk"))
            val blooms = bloomPos.map { case (gi, name) =>
              (gi, name, org.apache.spark.util.sketch.BloomFilter.create(
                math.min(cs, Int.MaxValue.toLong), spec.bloomFpp))
            }
            val bloomPath = if (bloomPos.nonEmpty)
              files.stage(new Path(s"$dir$gName/chunk$chunk.bloom")) else null
            (ChunkIO.openSink(p, ft, StructType(fields), taskConf), idxs,
              blooms, bloomPath)
          }
        }
        var n = 0L
        try {
          try {
            it.foreach { case (i, row) =>
              val c = i / cs
              if (c != chunk) roll(c)
              sinks.foreach { case (sink, idxs, blooms, _) =>
                val vals = idxs.map(fi => toIo(row, fi, schema)).toArray
                sink.write(vals)
                blooms.foreach { case (gi, _, bf) =>
                  vals(gi) match {
                    case null => // bloom indexes non-null values only
                    case b: Byte => bf.putLong(b.toLong)
                    case sh: Short => bf.putLong(sh.toLong)
                    case iv: Int => bf.putLong(iv.toLong) // incl. DATE days
                    case l: Long => bf.putLong(l)
                    case s: String => bf.putString(s)
                    case other => throw new IllegalStateException(
                      s"unexpected bloom value type ${other.getClass}")
                  }
                }
              }
              n += 1
            }
          } finally closeSinks()
          files.commit()
        } catch { case e: Throwable => files.abort(); throw e }
        Iterator.single(n)
      }.collect()

    indexed.unpersist(blocking = false)
    val total = counts.sum
    if (total == 0) {
      // empty type: keep the layout self-describing with one empty
      // chunk0 per group (pre-packing behavior; readers need no special
      // case for a missing directory)
      groupSchemas.foreach { case (gName, fields, _, _) =>
        ChunkIO.writeRows(new Path(s"$dir$gName/chunk0"), ft,
          StructType(fields), Iterator.empty, conf)
      }
    }
    GraphArMeta.writeInt64(new Path(s"${dir}vertex_count"), total, conf)
    writeVertexYaml(baseDir, spec, effGroups, schema, conf)
    total
  }

  /** Write one edge type from a DataFrame with columns (src: long,
    * dst: long, properties...). Writes each requested layout
    * (ordered_by_source / ordered_by_dest) with its CSR offset tables.
    *
    * `groups` splits the property columns into named property groups
    * (default: one group "props" holding every non-src/dst column) —
    * the reader's projection pushdown then skips whole group files when
    * none of their columns are required, exactly as for vertices.
    */
  def writeEdges(df: DataFrame, baseDir: String, spec: EdgeSpec,
                 groups: Seq[(String, Seq[String])] = Seq.empty): Long = {
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val serConf = graft.util.SerializableHadoopConf(conf)
    val schema = df.schema
    val propFields = schema.fields.filterNot(f => f.name == "src" || f.name == "dst")
    val effGroups: Seq[(String, Seq[String])] =
      if (groups.nonEmpty) {
        validateGroups("writeEdges", groups, propFields.map(_.name).toSet,
          reserved = Set("adj_list", "offset"))
        groups
      } else if (propFields.isEmpty) Seq.empty
      else Seq("props" -> propFields.map(_.name).toSeq)
    val bloomMissing = spec.bloomCols.filterNot(propFields.map(_.name).contains)
    require(bloomMissing.isEmpty,
      s"writeEdges: bloomCols must be property columns: ${bloomMissing.mkString(", ")}")
    spec.bloomCols.foreach { c =>
      schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType | StringType |
             DateType => // bloom-indexable
        case dt => throw new IllegalArgumentException(
          s"writeEdges: bloomCols column $c has type $dt — only " +
            "integral, string and date columns are bloom-indexable")
      }
    }
    // refuse a type GraphAr cannot declare before any layout is written
    propFields.foreach(f => GraphArMeta.garType(f.dataType))
    val dir = s"$baseDir/edge/${spec.name}/"
    var total = 0L
    spec.layouts.foreach { alignedBy =>
      val layoutDir =
        if (alignedBy == "src") s"${dir}ordered_by_source/" else s"${dir}ordered_by_dest/"
      val alignedCount = if (alignedBy == "src") spec.srcVertexCount else spec.dstVertexCount
      val vcs = if (alignedBy == "src") spec.srcChunkSize else spec.dstChunkSize
      total = writeLayout(df, schema, effGroups, layoutDir, alignedBy,
        alignedCount, vcs, spec, serConf)
      GraphArMeta.writeInt64(new Path(s"${layoutDir}vertex_count"), alignedCount, conf)
    }
    writeEdgeYaml(baseDir, spec, effGroups, schema, conf)
    total
  }

  private def writeLayout(df: DataFrame, schema: StructType,
                          groups: Seq[(String, Seq[String])], layoutDir: String,
                          alignedBy: String, alignedCount: Long, vcs: Long,
                          spec: EdgeSpec,
                          serConf: org.apache.spark.util.SerializableConfiguration): Long = {
    val srcIdx = schema.fieldIndex("src")
    val dstIdx = schema.fieldIndex("dst")
    // every group's property values, concatenated in group order, ride
    // the shuffle as one array; a group owns the slice [from, until)
    val propIdx = groups.flatMap(_._2).map(schema.fieldIndex).toArray
    val bounds = groups.map(_._2.size).scanLeft(0)(_ + _)
    // (group name, schema of its columns, its slice of the shuffled
    // values, bloom positions inside the group row)
    val bloomSet = spec.bloomCols.toSet
    val groupSpecs: Seq[(String, StructType, (Int, Int), Seq[(Int, String)])] =
      groups.zipWithIndex.map { case ((gName, cols), g) =>
        (gName, StructType(cols.map(c => schema(schema.fieldIndex(c)))),
          (bounds(g), bounds(g + 1)),
          cols.zipWithIndex.collect { case (c, gi) if bloomSet(c) => (gi, c) })
      }
    val cs = spec.chunkSize
    val ft = spec.fileType
    val nParts = math.max(1L, (alignedCount + vcs - 1) / vcs).toInt
    val adjSchema = StructType(Seq(
      StructField(GraphArMeta.SrcIndexCol, LongType, nullable = false),
      StructField(GraphArMeta.DstIndexCol, LongType, nullable = false)))

    // key (aligned, other), value the property values in file encoding:
    // a Kryo shuffle of longs and plain values, not Java-serialized Rows
    val keyed = df.rdd.map { r =>
      val s = r.getLong(srcIdx); val d = r.getLong(dstIdx)
      val key = if (alignedBy == "src") (s, d) else (d, s)
      (key, propIdx.map(i => toIo(r, i, schema)))
    }
    val factor = packFactor(nParts, spec.maxTasks)
    val counts = new ShuffledRDD[(Long, Long), Array[Any], Array[Any]](keyed,
      new PackedIdPartitioner(nParts, vcs, factor))
      .setKeyOrdering(Ordering[(Long, Long)])
      .setSerializer(new KryoSerializer(df.sparkSession.sparkContext.getConf))
      .mapPartitions { it =>
        val conf = serConf.value
        val files = new TaskFiles(conf)
        // a task owns the consecutive aligned-vertex parts
        // [task·factor, min(nParts, (task+1)·factor)); rows arrive sorted
        // by (aligned, other), so parts fill strictly in order. EVERY
        // part in range gets its offset table + edge_count file, edges
        // or not — readers rely on their presence.
        val task = TaskContext.getPartitionId()
        val partLo = task * factor
        val partHi = math.min(nParts.toLong, partLo.toLong + factor).toInt
        var totalEdges = 0L
        var part = -1
        var partStartVertex = 0L
        var vertsInPart = 0
        var offsets: Array[Long] = null
        var edgeCount = 0L
        var chunkIdx = -1L
        var lastAligned = -1L
        var adjSink: ChunkIO.RowSink = null
        var propSinks: Seq[(ChunkIO.RowSink, (Int, Int),
          Seq[(Int, String, org.apache.spark.util.sketch.BloomFilter)], Path)] = null
        def flushBlooms(): Unit = if (propSinks != null)
          propSinks.foreach { case (_, _, blooms, bloomPath) =>
            // written AFTER the chunk closes (reader's mtime guard)
            if (bloomPath != null)
              BloomSidecar.write(bloomPath, conf,
                blooms.map { case (_, name, bf) => (name, bf) })
          }
        def roll(): Unit = {
          if (adjSink != null) adjSink.close()
          if (propSinks != null) { propSinks.foreach(_._1.close()); flushBlooms() }
          chunkIdx += 1
          adjSink = ChunkIO.openSink(files.stage(
            new Path(s"${layoutDir}adj_list/part$part/chunk$chunkIdx")), ft, adjSchema, conf)
          propSinks = groupSpecs.map { case (gName, gSchema, slice, bloomPos) =>
            val blooms = bloomPos.map { case (gi, name) =>
              (gi, name, org.apache.spark.util.sketch.BloomFilter.create(
                math.min(cs, Int.MaxValue.toLong), spec.bloomFpp))
            }
            val bloomPath = if (bloomPos.nonEmpty) files.stage(
              new Path(s"$layoutDir$gName/part$part/chunk$chunkIdx.bloom")) else null
            (ChunkIO.openSink(files.stage(
              new Path(s"$layoutDir$gName/part$part/chunk$chunkIdx")), ft, gSchema, conf),
              slice, blooms, bloomPath)
          }
        }
        def closeSinks(): Unit = {
          // close BEFORE commit/abort: a throw above must not leak the
          // sink handles (abort deletes the staged files underneath them)
          if (adjSink != null) { adjSink.close(); adjSink = null }
          if (propSinks != null) {
            propSinks.foreach(_._1.close()); flushBlooms(); propSinks = null
          }
        }
        def startPart(p: Int): Unit = {
          part = p
          partStartVertex = p.toLong * vcs
          vertsInPart = math.min(vcs, alignedCount - partStartVertex).toInt
          offsets = new Array[Long](math.max(vertsInPart, 0) + 1)
          edgeCount = 0L; chunkIdx = -1L; lastAligned = -1L
        }
        // fill trailing offset boundaries (zero chunks is valid; the
        // offset table then says all-empty), write the part's offset
        // table + edge count
        def finishPart(): Unit = if (part >= 0) {
          closeSinks()
          var v = math.max(lastAligned - partStartVertex + 1, 0).toInt
          while (v <= vertsInPart) { offsets(v) = edgeCount; v += 1 }
          ChunkIO.writeRows(files.stage(new Path(s"${layoutDir}offset/chunk$part")), ft,
            StructType(Seq(StructField("_graphArOffset", LongType, nullable = false))),
            offsets.iterator.map(o => Array[Any](o)), conf)
          GraphArMeta.writeInt64(files.stage(
            new Path(s"${layoutDir}edge_count$part")), edgeCount, conf)
          totalEdges += edgeCount
          part = -1
        }
        try {
          var nextPart = partLo
          try {
            it.foreach { case ((aligned, other), props) =>
              if (aligned < partLo.toLong * vcs || aligned >= alignedCount)
                throw new IllegalArgumentException(
                  s"edge ${if (alignedBy == "src") "src" else "dst"} id $aligned " +
                    s"outside the declared aligned vertex count $alignedCount")
              val p = (aligned / vcs).toInt
              while (nextPart <= p) { finishPart(); startPart(nextPart); nextPart += 1 }
              if (edgeCount % cs == 0) roll()
              adjSink.write(
                if (alignedBy == "src") Array[Any](aligned, other) else Array[Any](other, aligned))
              propSinks.foreach { case (sink, (from, until), blooms, _) =>
                val vals = props.slice(from, until)
                sink.write(vals)
                blooms.foreach { case (gi, _, bf) =>
                  vals(gi) match {
                    case null => // bloom indexes non-null values only
                    case b: Byte => bf.putLong(b.toLong)
                    case sh: Short => bf.putLong(sh.toLong)
                    case iv: Int => bf.putLong(iv.toLong) // incl. DATE days
                    case l: Long => bf.putLong(l)
                    case str: String => bf.putString(str)
                    case other => throw new IllegalStateException(
                      s"unexpected bloom value type ${other.getClass}")
                  }
                }
              }
              // advance cumulative offsets for vertices in (lastAligned, aligned]
              val local = (aligned - partStartVertex).toInt
              var v = math.max(lastAligned - partStartVertex + 1, 0).toInt
              while (v <= local) { offsets(v) = edgeCount; v += 1 }
              lastAligned = aligned
              edgeCount += 1
            }
            // flush the open part and emit empty tables for any unseen
            // trailing parts in this task's range
            while (nextPart < partHi) { finishPart(); startPart(nextPart); nextPart += 1 }
            finishPart()
          } finally closeSinks()
          files.commit()
        } catch { case e: Throwable => files.abort(); throw e }
        Iterator.single(totalEdges)
      }.collect()
    counts.sum
  }

  private def toIo(row: Row, i: Int, schema: StructType): Any = {
    if (row.isNullAt(i)) null
    else schema(i).dataType match {
      // spark.sql.datetime.java8API.enabled decides which date class
      // rows carry — handle both, don't hard-cast
      case DateType => row.get(i) match {
        case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
        case d: java.time.LocalDate => d.toEpochDay.toInt
        case other => throw new IllegalArgumentException(
          s"unexpected date representation: ${other.getClass}")
      }
      case _ => row.get(i)
    }
  }

  // ----------------------------------------------------------------- yaml

  private def writeText(path: Path, text: String,
                        conf: Configuration = new Configuration()): Unit = {
    val fs = path.getFileSystem(conf)
    val out = fs.create(path, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** One copy of the `property_groups:` YAML block — shared by the
    * vertex and edge yaml writers so the emitted format cannot diverge.
    */
  private def appendPropertyGroups(sb: StringBuilder,
                                   groups: Seq[(String, Seq[String])],
                                   schema: StructType,
                                   fileType: String): Unit = {
    if (groups.isEmpty) return
    sb.append("property_groups: \n")
    groups.foreach { case (gName, cols) =>
      sb.append(s"  - file_type: $fileType\n")
      sb.append(s"    prefix: $gName/\n")
      sb.append("    properties: \n")
      cols.foreach { c =>
        val f = schema(schema.fieldIndex(c))
        sb.append(s"      - name: ${f.name}\n")
        sb.append(s"        data_type: ${GraphArMeta.garType(f.dataType)}\n")
        sb.append(s"        is_primary: false\n")
        sb.append(s"        is_nullable: ${f.nullable}\n")
      }
    }
  }

  private def writeVertexYaml(baseDir: String, spec: VertexSpec,
                              groups: Seq[(String, Seq[String])],
                              schema: StructType, conf: Configuration): Unit = {
    val sb = new StringBuilder
    sb.append(s"type: ${spec.vertexType}\n")
    sb.append(s"chunk_size: ${spec.chunkSize}\n")
    sb.append(s"prefix: vertex/${spec.vertexType}/\n")
    appendPropertyGroups(sb, groups, schema, spec.fileType)
    sb.append("version: gar/v1\n")
    writeText(new Path(s"$baseDir/${spec.vertexType}.vertex.yaml"), sb.toString, conf)
  }

  private def writeEdgeYaml(baseDir: String, spec: EdgeSpec,
                            groups: Seq[(String, Seq[String])],
                            schema: StructType,
                            conf: Configuration): Unit = {
    val sb = new StringBuilder
    sb.append(s"src_type: ${spec.srcType}\n")
    sb.append(s"edge_type: ${spec.edgeType}\n")
    sb.append(s"dst_type: ${spec.dstType}\n")
    sb.append("directed: true\n")
    sb.append(s"chunk_size: ${spec.chunkSize}\n")
    sb.append(s"src_chunk_size: ${spec.srcChunkSize}\n")
    sb.append(s"dst_chunk_size: ${spec.dstChunkSize}\n")
    sb.append(s"prefix: edge/${spec.name}/\n")
    sb.append("adj_lists: \n")
    spec.layouts.foreach { l =>
      val prefix = if (l == "src") "ordered_by_source/" else "ordered_by_dest/"
      sb.append(s"  - aligned_by: $l\n")
      sb.append(s"    ordered: true\n")
      sb.append(s"    file_type: ${spec.fileType}\n")
      sb.append(s"    prefix: $prefix\n")
    }
    appendPropertyGroups(sb, groups, schema, spec.fileType)
    sb.append("version: gar/v1\n")
    writeText(new Path(s"$baseDir/${spec.name}.edge.yaml"), sb.toString, conf)
  }

  def writeGraphYaml(baseDir: String, name: String, vertexTypes: Seq[String],
                     edgeNames: Seq[String],
                     conf: Configuration = new Configuration()): String = {
    val sb = new StringBuilder
    sb.append(s"name: $name\n")
    sb.append("vertices: \n")
    vertexTypes.foreach(v => sb.append(s"  - $v.vertex.yaml\n"))
    sb.append("edges: \n")
    edgeNames.foreach(e => sb.append(s"  - $e.edge.yaml\n"))
    sb.append("version: gar/v1\n")
    val p = s"$baseDir/$name.yaml"
    // conf matters: the graph yaml is the entry point — it must land on
    // the same filesystem/credentials as the data the session wrote
    writeText(new Path(p), sb.toString, conf)
    p
  }
}
