package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.{GraphArGraph, GraphOps}
import graft.meta.GraphArMeta
import graft.operators.{Dedup, Pipeline, Similarity, TextAnalysis}
import graft.sources.graphar.{GraphArMutations, GraphArWriter}

/** One operation of a workload's closed loop. `cls` groups ops for the
  * latency classes; `key` names the op's arguments so the output check
  * can recompute its answer; `run` returns the answer as text. */
final case class Op(name: String, cls: String, key: String, run: () => String)

/** Named samples a workload reports beside its op timings. */
final class Stats {
  val samples = collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
  def add(k: String, v: Double): Unit = samples(k) = samples.getOrElse(k, Vector.empty) :+ v
}

/** A seeded workload. `generate` writes the raw inputs once (untimed;
  * the output checks read them), `setup` builds the system's own inputs
  * from them fresh into `dir` (timed, several times), and `pass(i)` lists
  * the ops of loop pass `i`. */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  def name: String
  /** Passes run before measuring (a fixed count, so the state the
    * measurement starts from does not depend on speed). */
  def warmupPasses: Int
  def generate(raw: String): Unit
  def setup(dir: String): Unit
  def pass(i: Int): Seq[Op]
  /** Bytes the workload keeps on disk now, and the bytes of the live
    * data they represent. */
  def storedBytes: Long
  def liveBytes: Long
  /** Called before and after each op, outside its timing; they may add
    * samples to `stats`. */
  def beforeOp(op: Op, stats: Stats): Unit = ()
  def afterOp(op: Op, stats: Stats): Unit = ()
  /** Read through the traced catalog (timed `loadTable`) from now on. */
  var traced: Boolean = false

  protected def rng(i: Int) = new scala.util.Random(seed * 1000003L + i)
  protected def sqlRows(q: String): Array[Row] = spark.sql(q).collect()
  protected def catalogConf(catalog: String, yaml: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$catalog", classOf[graft.catalog.GraphArCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catalog.path", yaml)
    spark.conf.set(s"spark.sql.catalog.${catalog}t", classOf[TracedCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.${catalog}t.path", yaml)
  }
}

object Workload {
  val Names = Seq("graph_lookup", "llm_pipeline", "delta_mutate")

  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "graph_lookup" => new GraphLookup(spark, seed)
    case "llm_pipeline" => new LlmPipeline(spark, seed)
    case "delta_mutate" => new DeltaMutate(spark, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  /** Regular files under `path`. */
  def files(path: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(path)).filter(_.isFile)
  }

  def dirBytes(path: String): Long = files(path).map(_.length()).sum

  /** A value in [0, n) drawn from (seed, id, salt) by Spark's hash. */
  def draw(seed: Long, salt: Int, n: Long) =
    pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(n))

  /** The lookup graph's edges: uniform endpoints over `v` vertices plus a
    * quantity property (the shape of the lineitem-derived fixture). */
  def uniformEdges(spark: SparkSession, seed: Long, v: Long, e: Long): DataFrame =
    spark.range(e).select(draw(seed, 1, v).as("src"), draw(seed, 2, v).as("dst"),
      (draw(seed, 3, 50) + 1).as("quantity"))

  /** `n` words per name from a fixed word list, drawn on the driver. */
  val Words: IndexedSeq[String] = ("almond antique aquamarine azure beige bisque " +
    "black blanched blue blush brown burlywood burnished chartreuse chiffon " +
    "chocolate coral cornflower cornsilk cream cyan dark deep dim dodger drab " +
    "firebrick floral forest frosted gainsboro ghost goldenrod green grey " +
    "honeydew hot indian ivory khaki lace lavender lawn lemon light lime linen " +
    "magenta maroon medium metallic midnight mint misty moccasin navajo navy " +
    "olive orange orchid pale papaya peach peru pink plum powder puff purple " +
    "red rose rosy royal saddle salmon sandy seashell sienna sky slate smoke " +
    "snow spring steel tan thistle tomato turquoise violet wheat white yellow")
    .split(' ').toIndexedSeq
}

/** Point reads and hop queries through SQL: the catalog, the session
  * extension's table functions, and the graph API for BFS. */
final class GraphLookup(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  val name = "graph_lookup"
  val warmupPasses = 3
  val V = 4096L
  val E = 300000L
  private var raw: String = _
  private var dir: String = _
  private var yaml: String = _
  private var hub = 0L
  private var edgeCount = 0L
  private var names: IndexedSeq[String] = _
  private var graph: GraphArGraph = _

  private def cat = if (traced) "glt" else "gl"

  def generate(r0: String): Unit = {
    raw = r0
    import spark.implicits._
    val r = rng(-1)
    names = (0L until V).map(_ => Seq.fill(3)(Workload.Words(r.nextInt(Workload.Words.size)))
      .mkString(" "))
    names.zipWithIndex.map { case (n, i) =>
      (i.toLong + 1, n, r.nextInt(50) + 1, 900.0 + r.nextInt(100000) / 100.0)
    }.toDF("p_partkey", "p_name", "p_size", "p_retailprice")
      .write.parquet(s"$raw/vertices")
    Workload.uniformEdges(spark, seed, V, E).write.parquet(s"$raw/edges")
    // the hub, from the raw input (not through the connector)
    hub = GraphOps.degrees(spark.read.parquet(s"$raw/edges"))
      .orderBy(col("degree").desc, col("grapharId")).limit(1).collect()(0).getLong(1)
  }

  def setup(d: String): Unit = {
    dir = d
    val base = s"$d/graph"
    GraphArWriter.writeVertices(spark.read.parquet(s"$raw/vertices").orderBy(col("p_partkey")),
      base, GraphArWriter.VertexSpec("Part", chunkSize = 512, fileType = "parquet",
        bloomCols = Seq("p_name")))
    GraphArWriter.writeEdges(spark.read.parquet(s"$raw/edges"), base,
      GraphArWriter.EdgeSpec("Part", "link", "Part",
        srcVertexCount = V, dstVertexCount = V,
        chunkSize = 32768, srcChunkSize = 1024, dstChunkSize = 1024,
        fileType = "parquet"))
    GraphArWriter.writeGraphYaml(base, "TestGraph", Seq("Part"), Seq("Part_link_Part"))
    yaml = s"$base/TestGraph.yaml"
    catalogConf("gl", yaml)
    graph = GraphArGraph(spark, yaml)
    val ei = graph.info.edge("Part", "link", "Part")
    edgeCount = ei.edgeCount(ei.adjLists.head, spark.sessionState.newHadoopConf())
  }

  def storedBytes: Long = Workload.dirBytes(s"$dir/graph")
  def liveBytes: Long = Workload.dirBytes(raw)

  def pass(i: Int): Seq[Op] = {
    val r = rng(i)
    // every fourth pass anchors at the max-degree vertex
    val v = if (i % 4 == 0) hub else r.nextInt(V.toInt).toLong
    val w = r.nextInt(V.toInt).toLong
    val probe = r.nextInt(V.toInt)
    val edgeT = "`Part_link_Part.edge`"
    val vertT = "`Part.vertex`"
    Seq(
      Op("meta_degree", "meta", s"$v", () => {
        val conf = spark.sessionState.newHadoopConf()
        val info = Trace.span("meta", "meta.load_graph")(GraphArMeta.loadGraph(yaml, conf))
        val e = info.edge("Part", "link", "Part")
        val al = e.adjList("src").get
        val deg = Trace.span("meta", "meta.offset_pair")(e.offsetPair(al, v, conf))
          .map { case (b, en) => en - b }.getOrElse(0L)
        val n = Trace.span("meta", "meta.vertex_count")(info.vertex("Part").vertexCount(conf))
        s"$deg|$n"
      }),
      Op("one_hop", "point", s"$v", () =>
        sqlRows(s"SELECT count(*) FROM $cat.$edgeT WHERE _graphArSrcIndex = $v")
          .head.getLong(0).toString),
      Op("vertex_read", "point", s"$v", () =>
        sqlRows(s"SELECT p_name, p_size FROM $cat.$vertT WHERE _graphArVertexIndex = $v")
          .map(x => s"${x.getString(0)}|${x.getInt(1)}").mkString(";")),
      Op("name_lookup", "point", names(probe), () =>
        sqlRows(s"SELECT _graphArVertexIndex FROM $cat.$vertT WHERE p_name = '${names(probe)}'")
          .map(_.getLong(0)).sorted.mkString(",")),
      Op("count_star", "point", "", () =>
        sqlRows(s"SELECT count(*) FROM $cat.$edgeT").head.getLong(0).toString),
      Op("limit3", "point", "", () =>
        sqlRows(s"SELECT _graphArVertexIndex, p_name FROM $cat.$vertT LIMIT 3")
          .map(x => s"${x.getLong(0)}|${x.getString(1)}").mkString(";")),
      Op("two_hop", "expand", s"$v", () =>
        sqlRows(s"SELECT count(*) FROM two_hop('$yaml', $v)").head.getLong(0).toString),
      Op("one_more_hop", "expand", s"$v", () =>
        sqlRows(s"SELECT count(*) FROM one_more_hop('$yaml', $v)").head.getLong(0).toString),
      Op("bfs_length", "expand", s"$v|$w", () =>
        Trace.span("graph", "graph.bfs_length") {
          GraphOps.bfsLengthsAuto(spark, graph.edgesStd("Part", "link", "Part"),
            Seq((v, w)), maxDepth = 8, edgeCount = edgeCount).head._3.toString
        })
    )
  }
}

/** Text and vector operators over a seeded corpus and embeddings. */
final class LlmPipeline(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  val name = "llm_pipeline"
  val warmupPasses = 2
  val Docs = 1000L
  val Vecs = 1000L
  val DocLen = 40
  val Vocab = 5000L
  private var dir: String = _

  def generate(raw: String): Unit = ()

  def setup(d: String): Unit = {
    dir = d
    val stop = array(graft.functions.TextFunctions.Lexicons.head._2.map(lit): _*)
    // every 100th doc (from 1) repeats its predecessor's tokens with its
    // own tail token: the planted near-duplicate pair; every 100th doc
    // (from 7) repeats its predecessor verbatim: the planted exact duplicate
    val exactDup = col("doc_id") % 100 === 7
    val docs = spark.range(Docs).withColumnRenamed("id", "doc_id")
      .withColumn("src_doc", when(col("doc_id") % 100 === 1 || exactDup, col("doc_id") - 1)
        .otherwise(col("doc_id")))
      .withColumn("tail_doc", when(exactDup, col("doc_id") - 1).otherwise(col("doc_id")))
      .withColumn("text", concat(
        concat_ws(" ", transform(sequence(lit(1), lit(DocLen - 1)), i => {
          val rank = pow(lit(Vocab.toDouble),
            (conv(substring(md5(concat(lit(seed), lit("-"), col("src_doc"), lit("-"), i)),
              1, 8), 16, 10).cast("double") + lit(1.0)) / lit(4294967296.0)).cast("long")
          when(rank <= 10, element_at(stop, rank.cast("int")))
            .otherwise(concat(lit("w"), rank))
        })),
        lit(" t"), col("tail_doc")))
      .withColumn("lang", lit("en"))
      .withColumn("source", concat(lit("s"), col("doc_id") % 8))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.parquet(s"$d/documents.parquet")
    val emb = spark.range(Vecs).withColumnRenamed("id", "vec_id")
      .withColumn("embedding", transform(sequence(lit(1), lit(64)), i =>
        ((conv(substring(md5(concat(lit(seed), lit("-e-"), col("vec_id"), lit("-"), i)),
          1, 8), 16, 10).cast("double") / lit(4294967296.0)) * 2.0 - 1.0).cast("float")))
      .withColumn("label", pmod(xxhash64(col("vec_id"), lit(seed)), lit(10L)).cast("int"))
    emb.coalesce(1).write.parquet(s"$d/embeddings.parquet")
  }

  def storedBytes: Long = Workload.dirBytes(dir)
  /** The corpus as plain data: its text bytes and its float embeddings. */
  def liveBytes: Long =
    spark.read.parquet(s"$dir/documents.parquet").agg(sum(octet_length(col("text"))))
      .collect()(0).getLong(0) + Vecs * 64 * 4

  private def docs = graft.Tables.t(spark, dir, "documents")
  private def emb = graft.Tables.t(spark, dir, "embeddings")

  private def op(n: String)(f: => String): Op =
    Op(n, "operator", "", () => Trace.span("operators", s"operators.$n")(f))
  private def fn(n: String)(f: => String): Op =
    Op(n, "function", "", () => Trace.span("functions", s"functions.$n")(f))

  /** The first row of `df` as `|`-joined text. */
  private def row(df: DataFrame): String = df.collect()(0).toSeq.mkString("|")

  def pass(i: Int): Seq[Op] = Seq(
    op("dedup_exact")(row(Dedup.exact(docs)
      .agg(count(lit(1)), sum(col("keep_id")), max(col("n_dups"))))),
    op("minhash_lsh")(Dedup.minhashLshPairs(docs).select("a_id", "b_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted
      .map { case (a, b) => s"$a-$b" }.mkString(",")),
    op("simhash")(row(Dedup.simhashSignatures(docs)
      .agg(count(lit(1)), sum(col("simhash")), sum((col("doc_id") + 1) * col("simhash"))))),
    op("quality")(row(TextAnalysis.queries("t_quality")(spark, dir)
      .agg(count(lit(1)), sum(col("n_chars")), sum(col("n_tokens")), sum(col("punct_ratio")),
        sum(col("stopword_ratio")), sum(col("avg_token_len"))))),
    op("decontaminate")({
      val x = Pipeline.decontaminate(docs)
        .agg(count(lit(1)), coalesce(sum(col("n_shared")), lit(0L))).collect()(0)
      s"${x.getLong(0)}|${x.getLong(1)}"
    }),
    op("token_pack")({
      val x = Pipeline.tokenPack(docs)
        .agg(count(lit(1)), sum(col("n_tokens")), max(col("bin"))).collect()(0)
      s"${x.getLong(0)}|${x.getLong(1)}|${x.getLong(2)}"
    }),
    op("sim_topk")(Similarity.queries("sim_topk")(spark, dir).collect()
      .map(x => (x.getAs[Long]("q_id"), x.getAs[Long]("n_id"))).sorted
      .map { case (q, n) => s"$q-$n" }.mkString(",")),
    op("semdedup")(row(Similarity.semDedup(emb)
      .agg(count(lit(1)), sum(col("vec_id")), sum(col("cluster"))))),
    fn("minhash_sig")({
      docs.createOrReplaceTempView("bench_docs")
      spark.sql("SELECT sum(size(graft_minhash_sig(text))) FROM bench_docs")
        .collect()(0).getLong(0).toString
    }),
    fn("cosine")({
      emb.createOrReplaceTempView("bench_emb")
      val s = spark.sql("SELECT sum(graft_cosine(a.embedding, q.embedding)) FROM bench_emb a " +
        "CROSS JOIN (SELECT embedding FROM bench_emb WHERE vec_id = 0) q").collect()(0).getDouble(0)
      f"$s%.6f"
    })
  )
}

/** Staged edge deltas beside delta-folded reads on a versioned copy of
  * the lookup graph, with a compaction every few stages. */
final class DeltaMutate(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  val name = "delta_mutate"
  val V = 4096L
  val E = 200000L
  val DeltaEdges = 1000
  val StagesPerCompaction = 3
  val warmupPasses = 1
  private var raw: String = _
  private var base: String = _

  def generate(r: String): Unit = {
    raw = r
    Workload.uniformEdges(spark, seed, V, E).write.parquet(s"$raw/edges")
  }

  def setup(d: String): Unit = {
    base = s"$d/versioned"
    GraphArMutations.initEdges(spark, base, spark.read.parquet(s"$raw/edges"), "MutGraph",
      GraphArWriter.EdgeSpec("Part", "link", "Part",
        srcVertexCount = V, dstVertexCount = V,
        chunkSize = 32768, srcChunkSize = 1024, dstChunkSize = 1024))
  }

  def storedBytes: Long = Workload.dirBytes(base)
  /** The latest snapshot plus the staged log: what a reader sees. */
  def liveBytes: Long = {
    val latest = graft.streaming.GraphArSink.versions(spark, base).max
    Workload.dirBytes(s"$base/v$latest") + Workload.dirBytes(s"$base/delta")
  }

  private def current = Trace.span("writer", "writer.current_edges")(
    GraphArMutations.currentEdges(spark, base))

  /** One pass is one compaction cycle: each stage is followed by a folded
    * count and a folded one-hop read, and the cycle ends in a compaction
    * and a count of the compacted graph. */
  def pass(i: Int): Seq[Op] = (0 until StagesPerCompaction).flatMap { s =>
    val k = i * StagesPerCompaction + s
    val r = rng(k)
    val rows = Seq.fill(DeltaEdges)((r.nextInt(V.toInt).toLong, r.nextInt(V.toInt).toLong,
      (r.nextInt(50) + 1).toLong))
    val v = r.nextInt(V.toInt).toLong
    // the generated delta, kept for the output check
    Files.write(new File(s"$raw/delta_$k.csv").toPath, rows.map { case (a, b, q) =>
      s"$a,$b,$q" }.mkString("src,dst,quantity\n", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Seq(
      Op("stage", "write", s"$k", () => {
        import spark.implicits._
        Trace.span("writer", "writer.stage_delta")(GraphArMutations.stageDelta(spark, base,
          adds = Some(rows.toDF("src", "dst", "quantity")))).toString
      }),
      Op("folded_count", "point", s"${k + 1}", () => current.count().toString),
      Op("folded_one_hop", "point", s"${k + 1}|$v", () =>
        current.filter(col("src") === v).count().toString))
  } ++ Seq(
    Op("compact", "compact", s"${(i + 1) * StagesPerCompaction}", () =>
      Trace.span("writer", "writer.compact")(GraphArMutations.compactDeltas(spark, base))
        .toString),
    Op("compacted_count", "point", s"${(i + 1) * StagesPerCompaction}", () =>
      current.count().toString))

  private var before = (0L, 0L)

  override def beforeOp(op: Op, stats: Stats): Unit = op.cls match {
    case "write" | "compact" => before = (Workload.dirBytes(base), Workload.files(base).size.toLong)
    case "point" =>
      stats.add("writer.pending_deltas_at_read",
        GraphArMutations.stagedDeltas(spark, base).size.toDouble)
    case _ =>
  }

  override def afterOp(op: Op, stats: Stats): Unit = op.cls match {
    case "write" =>
      // a delta row is three longs: src, dst, quantity
      stats.add("writer.bytes_written_per_delta_byte",
        (Workload.dirBytes(base) - before._1).toDouble / (DeltaEdges * 24L))
      stats.add("writer.files_per_commit", (Workload.files(base).size - before._2).toDouble)
    case "compact" =>
      stats.add("writer.compact_bytes_rewritten", (Workload.dirBytes(base) - before._1).toDouble)
    case _ =>
  }
}
