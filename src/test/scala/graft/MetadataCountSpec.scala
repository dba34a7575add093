package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.functions.{col, count, lit}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{GraftSparkSessionExtension, GraphArGraph}
import graft.meta.GraphArMeta.{DstIndexCol, SrcIndexCol, VertexIndexCol}
import graft.sources.graphar.{GraphArMutations, GraphArWriter}

/** A `count(*)` the GraphAr connector fully pushes (a whole table, or a
  * single-id seek) is answered from metadata: under
  * `GraftSparkSessionExtension` it executes as a bare `LocalTableScan`
  * and launches no Spark job. Every other count shape keeps its job.
  * Each answer is checked against `rdd.count()`, which takes no
  * aggregate pushdown, and against the input rows.
  */
class MetadataCountSpec extends AnyFunSuite with BeforeAndAfterAll {

  /** The JVM's shared session, which test suites reach through
    * `getOrCreate`. It is restored as the default and active session
    * once this suite is done. */
  private lazy val shared: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A session of its own, on the shared context, with the extension. */
  lazy val spark: SparkSession = {
    shared
    SparkSession.builder()
      .config("spark.sql.shuffle.partitions", "2")
      .withExtensions(new GraftSparkSessionExtension)
      .create()
  }

  override def afterAll(): Unit = {
    SparkSession.setDefaultSession(shared)
    SparkSession.setActiveSession(shared)
    super.afterAll()
  }

  private val V = 20L
  // src 0..14 have out-degree 1 or 2; 15..19 have out-degree 0
  private val input: Seq[(Long, Long, Double)] =
    (0L until 15L).flatMap(i => Seq((i, (i + 1) % V, i.toDouble)) ++
      (if (i % 2 == 0) Seq((i, (i * 3 + 7) % V, 100.0 + i)) else Nil))

  private def spec = GraphArWriter.EdgeSpec("T", "e", "T",
    srcVertexCount = V, dstVertexCount = V,
    chunkSize = 4, srcChunkSize = 8, dstChunkSize = 8)

  private lazy val yaml: String = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("gar_metacount").toString
    GraphArWriter.writeVertices((0L until V).map(i => (i, s"v$i")).toDF("id", "name"),
      dir, GraphArWriter.VertexSpec("T", chunkSize = 8))
    GraphArWriter.writeEdges(input.toDF("src", "dst", "w"), dir, spec)
    GraphArWriter.writeGraphYaml(dir, "G", Seq("T"), Seq("T_e_T"))
  }

  private def edges(yamlPath: String = yaml): DataFrame =
    GraphArGraph(spark, yamlPath).edges("T", "e", "T")
  private def vertices: DataFrame = GraphArGraph(spark, yaml).vertices("T")

  /** The one-row answer of `q`, the jobs it launched, and its executed
    * plan. */
  private def run(q: DataFrame): (Long, Int, SparkPlan) = {
    var n = -1L
    val jobs = Jobs.launchedBy(spark) { n = q.collect().head.getLong(0) }
    (n, jobs, q.queryExecution.executedPlan)
  }

  private def countStar(df: DataFrame): (Long, Int, SparkPlan) =
    run(df.agg(count(lit(1)).as("n")))

  private def assertJobFree(df: DataFrame, want: Long, what: String): Unit = {
    val (n, jobs, plan) = countStar(df)
    assert(n === want, what)
    assert(df.rdd.count() === want, s"$what: rdd.count()")
    assert(plan.isInstanceOf[LocalTableScanExec], s"$what:\n$plan")
    assert(jobs === 0, s"$what: jobs")
  }

  private def assertFallsBack(df: DataFrame, want: Long, what: String): Unit = {
    val (n, jobs, plan) = countStar(df)
    assert(n === want, what)
    assert(df.rdd.count() === want, s"$what: rdd.count()")
    assert(jobs >= 1, s"$what: jobs")
    assert(plan.collect { case l: LocalTableScanExec => l }.isEmpty, s"$what:\n$plan")
  }

  test("a full-table count over edges and vertices is a LocalTableScan with no job") {
    assertJobFree(edges(), input.size.toLong, "edge table")
    assertJobFree(vertices, V, "vertex table")
    edges().createOrReplaceTempView("mc_edges")
    val (n, jobs, plan) = run(spark.sql("SELECT count(*) FROM mc_edges"))
    assert((n, jobs) === ((input.size.toLong, 0)))
    assert(plan.isInstanceOf[LocalTableScanExec], plan)
  }

  test("a count under a src or dst seek is answered from two offset entries") {
    for (v <- Seq(0L, 1L, 8L, 14L, 17L, V - 1, V + 5, -1L)) {
      assertJobFree(edges().filter(col(SrcIndexCol) === v),
        input.count(_._1 == v).toLong, s"src seek $v")
      assertJobFree(edges().filter(col(DstIndexCol) === v),
        input.count(_._2 == v).toLong, s"dst seek $v")
    }
    // vertex 17 has no out-edges: a zero-degree seek is exact too
    assert(input.count(_._1 == 17L) === 0)
  }

  test("a vertex seek counts 1 in range and 0 out of range") {
    for (v <- Seq(0L, 7L, V - 1)) assertJobFree(vertices.filter(col(VertexIndexCol) === v), 1L, s"vertex $v")
    for (v <- Seq(V, V + 5, -1L)) assertJobFree(vertices.filter(col(VertexIndexCol) === v), 0L, s"vertex $v")
  }

  test("Dataset.count() on the graph API and on a compacted mutation log launches no job") {
    val vs = vertices
    assert(Jobs.launchedBy(spark)(assert(vs.count() === V)) === 0)
    assert(vs.groupBy().count().queryExecution.executedPlan.isInstanceOf[LocalTableScanExec])

    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("gar_metacount_log").toString
    GraphArMutations.initEdges(spark, base, input.toDF("src", "dst", "w"), "F", spec)
    GraphArMutations.stageDelta(spark, base, adds = Some(Seq((15L, 16L, 1.0)).toDF("src", "dst", "w")))
    assert(GraphArMutations.compactDeltas(spark, base) === 1L)
    val compacted = GraphArMutations.currentEdges(spark, base)
    assert(Jobs.launchedBy(spark)(assert(compacted.count() === input.size + 1L)) === 0)
    assert(compacted.rdd.count() === input.size + 1L)
  }

  test("residual filters, IN seeks, a pushed LIMIT and an unordered layout keep their jobs") {
    assertFallsBack(edges().filter(col("w") > 5.0), input.count(_._3 > 5.0).toLong,
      "residual property filter")
    assertFallsBack(edges().filter(col(SrcIndexCol).isin(2L, 3L, 17L)),
      input.count(e => Set(2L, 3L, 17L)(e._1)).toLong, "IN seek")
    assertFallsBack(edges().limit(3), 3L, "count over a pushed LIMIT")
    assertFallsBack(vertices.filter(col(VertexIndexCol) === 3L).filter(col("name") === "v3"),
      1L, "vertex seek with a residual property filter")
    // the same layouts, declared `ordered: false`: no offset seek, so
    // the id filter stays residual and the count keeps its scan
    val src = Paths.get(yaml).getParent
    val dir = Files.createTempDirectory("gar_metacount_unordered")
    // checksum sidecars stay behind: the edited yaml would fail its own
    Files.walk(src).filter(!_.getFileName.toString.endsWith(".crc")).forEach { p =>
      val to = dir.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
    val edgeYaml = dir.resolve("T_e_T.edge.yaml")
    Files.write(edgeYaml, new String(Files.readAllBytes(edgeYaml), StandardCharsets.UTF_8)
      .replace("ordered: true", "ordered: false").getBytes(StandardCharsets.UTF_8))
    assertFallsBack(edges(dir.resolve("G.yaml").toString).filter(col(SrcIndexCol) === 4L),
      input.count(_._1 == 4L).toLong, "src seek over ordered: false")
  }

  test("a folded view with pending deltas never answers from the snapshot's count") {
    val s = spark
    import s.implicits._
    for (removes <- Seq(false, true)) {
      val base = Files.createTempDirectory("gar_metacount_fold").toString
      GraphArMutations.initEdges(spark, base, input.toDF("src", "dst", "w"), "F", spec)
      GraphArMutations.stageDelta(spark, base,
        adds = Some(Seq((15L, 16L, 1.0), (16L, 17L, 2.0)).toDF("src", "dst", "w")),
        removeKeys = if (removes) Some(Seq((0L, 1L)).toDF("src", "dst")) else None)
      val want = input.size + 2L - (if (removes) 1L else 0L)
      assertFallsBack(GraphArMutations.currentEdges(spark, base), want, s"removes=$removes")
    }
  }

  test("a session without the extension answers the same count through its one-row job") {
    val df = shared.read.format("graphar").option("path", yaml)
      .option("src", "T").option("type", "e").option("dst", "T").load()
      .filter(col(SrcIndexCol) === 0L)
    var n = -1L
    val jobs = Jobs.launchedBy(shared) { n = df.count() }
    assert(n === input.count(_._1 == 0L).toLong)
    assert(jobs >= 1)
  }
}
