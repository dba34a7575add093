package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{GraphArGraph, GraphOps}
import graft.sources.graphar.GraphArWriter

/** `id IN (...)` pushdown (multi-value offset-range seek) and the
  * single twoHop / oneMoreHop plan built on it. The IN filter is
  * RESIDUAL in Spark by design — these tests pin that the seek planning
  * can only cut I/O, never change rows, including out-of-range ids, the
  * per-chunk covering-slice merge, a dense frontier that touches every
  * adjacency chunk, and the generic-plan fallback above the seek cap.
  */
class InSeekSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // 200 vertices, out-degree 3 each, edge chunkSize 16 → 38 adjacency
  // chunks: a 3-vertex frontier touches at most 6 of them (sparse)
  private val nVerts = 200L
  private lazy val edges: Seq[(Long, Long)] =
    (0L until nVerts).flatMap { s =>
      Seq((s, (s * 7 + 1) % nVerts), (s, (s * 13 + 3) % nVerts),
        (s, (s * 29 + 11) % nVerts))
    }

  private lazy val yaml: String = writeGraph(edges, nVerts, 16, 64)

  // dense: 40 vertices, out-degree 15 (14 distinct neighbors 3 apart plus
  // a repeated edge to s+1), src chunk 8, edge chunkSize 64 → 10
  // adjacency chunks, and every frontier touches all of them (the
  // graph_lookup benchmark shape: mean degree above the chunk count)
  private val denseVerts = 40L
  private val denseDeg = 15L
  private lazy val denseEdges: Seq[(Long, Long)] =
    (0L until denseVerts).flatMap { s =>
      ((0L until 14L).map(k => (s, (s + 3 * k + 1) % denseVerts)) :+
        ((s, (s + 1) % denseVerts)))
    }
  private lazy val denseYaml: String =
    writeGraph(denseEdges, denseVerts, 64, 8)

  private def writeGraph(es: Seq[(Long, Long)], n: Long, chunkSize: Long,
                         vChunk: Long): String = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("gar_inseek").toString
    GraphArWriter.writeEdges(es.toDF("src", "dst"), dir,
      GraphArWriter.EdgeSpec("T", "e", "T", srcVertexCount = n,
        dstVertexCount = n, chunkSize = chunkSize, srcChunkSize = vChunk,
        dstChunkSize = vChunk, fileType = "parquet"))
    GraphArWriter.writeVertices((0L until n).map(Tuple1(_)).toDF("x"),
      dir, GraphArWriter.VertexSpec("T", vChunk, "parquet"))
    GraphArWriter.writeGraphYaml(dir, "G", Seq("T"), Seq("T_e_T"))
    s"$dir/G.yaml"
  }

  private def sameMultiset(a0: DataFrame, b0: DataFrame): Boolean = {
    val a = a0.groupBy("src", "dst").count()
    val b = b0.groupBy("src", "dst").count()
    val n = a.count()
    n == b.count() && a.join(b, Seq("src", "dst", "count")).count() == n
  }

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("edge src IN seek: pushed, pruned, and row-identical") {
    val g = GraphArGraph(spark, yaml)
    val es = g.edgesStd("T", "e", "T")
    // includes duplicates-in-source ids and out-of-range ids
    val vids = Seq(3L, 77L, 150L, -5L, nVerts + 9)
    val seek = es.filter(col("src").isin(vids: _*))
    val p = planOf(seek)
    assert(p.contains("pushedIdIn=(_graphArSrcIndex"),
      s"IN not pushed as seek in:\n$p")
    val got = seek.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = edges.filter(e => vids.contains(e._1)).sorted
    assert(got.toSeq === want)
    // chunk pruning: the seek plan must read fewer partitions than the
    // 38-chunk full scan (3 in-range ids touch ≤6 chunks)
    seek.collect()
    val scan = seek.queryExecution.executedPlan.collectLeaves()
      .find(_.nodeName.contains("BatchScan")).get
    val rows = scan.metrics("numOutputRows").value
    assert(rows < edges.size,
      s"seek scan emitted $rows rows — no pruning vs ${edges.size} total")
  }

  test("vertex index IN seek: pushed and row-identical") {
    val g = GraphArGraph(spark, yaml)
    val v = g.vertices("T")
    val vids = Seq(0L, 63L, 64L, 199L, 999L)
    val seek = v.filter(col("_graphArVertexIndex").isin(vids: _*))
    val p = planOf(seek)
    assert(p.contains("pushedIdIn=(_graphArVertexIndex"),
      s"IN not pushed as seek in:\n$p")
    val got = seek.select(col("_graphArVertexIndex")).collect()
      .map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(0L, 63L, 64L, 199L))
  }

  test("IN above the seek cap stays a (correct) full scan") {
    spark.conf.set("spark.graft.seek.maxInValues", "2")
    try {
      val g = GraphArGraph(spark, yaml)
      val es = g.edgesStd("T", "e", "T")
      val vids = Seq(3L, 77L, 150L)
      val seek = es.filter(col("src").isin(vids: _*))
      val p = planOf(seek)
      assert(!p.contains("pushedIdIn"), s"cap not honored in:\n$p")
      val got = seek.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(got.toSeq === edges.filter(e => vids.contains(e._1)).sorted)
    } finally spark.conf.unset("spark.graft.seek.maxInValues")
  }

  test("twoHop seek plan == generic plan (exact multiset, dup-preserving)") {
    val g = GraphArGraph(spark, yaml)
    for (vid <- Seq(0L, 42L, 199L, -1L, nVerts + 9)) {
      val seek = g.twoHop("T", "e", "T", vid)
      if (vid >= 0 && vid < nVerts)
        assert(planOf(seek).contains("pushedIdIn"),
          s"sparse frontier (deg 3, 38 chunks) should take the seek plan")
      else assertNoFallback(seek, vid)
      val gen = GraphOps.twoHop(g.edgesStd("T", "e", "T"), vid)
      val a = seek.groupBy("src", "dst").count()
      val b = gen.groupBy("src", "dst").count()
      assert(a.count() === b.count())
      assert(a.join(b, Seq("src", "dst", "count"), "full_outer").count()
        === a.count(), s"twoHop seek/generic multiset mismatch at vid=$vid")
    }
  }

  /** An out-of-range id has no frontier: an empty result from the
    * single-id seek, never the generic plan's full edge scan. */
  private def assertNoFallback(df: DataFrame, vid: Long): Unit = {
    assert(!planOf(df).contains("pushedId=None"),
      s"out-of-range vid=$vid fell back to a full scan:\n${planOf(df)}")
    assert(df.count() === 0L)
  }

  test("dense frontier touching every adjacency chunk keeps the seek plan") {
    val g = GraphArGraph(spark, denseYaml)
    val es = g.edgesStd("T", "e", "T")
    val chunkOf = (v: Long) =>
      ((v % 8) * denseDeg until (v % 8 + 1) * denseDeg).map(r => (v / 8, r / 64))
    val allChunks = (0L until denseVerts).flatMap(chunkOf).toSet
    assert(allChunks.size === 10)
    for (vid <- Seq(0L, 17L, denseVerts - 1)) {
      val f = denseEdges.filter(_._1 == vid).map(_._2).distinct
      assert(f.flatMap(chunkOf).toSet === allChunks,
        s"frontier of vid=$vid should touch every chunk")
      val two = g.twoHop("T", "e", "T", vid)
      assert(planOf(two).contains("pushedIdIn"),
        s"dense twoHop frontier should take the seek plan:\n${planOf(two)}")
      assert(sameMultiset(two, GraphOps.twoHop(es, vid)),
        s"dense twoHop multiset mismatch at vid=$vid")
      val more = g.oneMoreHop("T", "e", "T", vid)
      val p = planOf(more)
      assert(p.contains("pushedIdIn") && !p.contains("Join") &&
        !p.contains("Aggregate"), s"dense oneMoreHop plan:\n$p")
      assert(sameMultiset(more, GraphOps.oneMoreHop(es, vid)),
        s"dense oneMoreHop multiset mismatch at vid=$vid")
    }
  }

  test("oneMoreHop seek plan == generic plan (exact multiset)") {
    val g = GraphArGraph(spark, yaml)
    for (vid <- Seq(0L, 42L, 199L, -1L, nVerts + 9)) {
      val seek = g.oneMoreHop("T", "e", "T", vid)
      if (vid >= 0 && vid < nVerts)
        assert(planOf(seek).contains("pushedIdIn"),
          s"sparse frontier (deg 3, 38 chunks) should take the seek plan")
      else assertNoFallback(seek, vid)
      val gen = GraphOps.oneMoreHop(g.edgesStd("T", "e", "T"), vid)
      val a = seek.groupBy("src", "dst").count()
      val b = gen.groupBy("src", "dst").count()
      assert(a.count() === b.count())
      assert(a.join(b, Seq("src", "dst", "count"), "full_outer").count()
        === a.count(), s"oneMoreHop seek/generic multiset mismatch at vid=$vid")
    }
  }

  test("degree above the seek cap runs the generic plan") {
    spark.conf.set("spark.graft.seek.maxInValues", "2")
    try {
      val g = GraphArGraph(spark, yaml)
      val es = g.edgesStd("T", "e", "T")
      for (vid <- Seq(0L, 42L)) {
        val two = g.twoHop("T", "e", "T", vid)
        assert(!planOf(two).contains("pushedIdIn") &&
          planOf(two).contains("pushedId=None"),
          s"deg 3 > cap 2 should run the generic twoHop:\n${planOf(two)}")
        assert(sameMultiset(two, GraphOps.twoHop(es, vid)))
        val more = g.oneMoreHop("T", "e", "T", vid)
        assert(!planOf(more).contains("pushedIdIn") &&
          planOf(more).contains("pushedId=None"),
          s"deg 3 > cap 2 should run the generic oneMoreHop:\n${planOf(more)}")
        assert(sameMultiset(more, GraphOps.oneMoreHop(es, vid)))
      }
    } finally spark.conf.unset("spark.graft.seek.maxInValues")
  }
}
