package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.graphar.{GraphArMutations, GraphArWriter}

/** The one-plan delta fold's cost contract and the stage-time schema
  * contract: building the folded view launches no Spark job at any log
  * length, a folded count launches as many jobs at 5 deltas as at 1,
  * staged files carry the snapshot's types, and a delta whose types
  * cannot widen to the snapshot's is refused when it is staged.
  */
class DeltaFoldSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val spec = GraphArWriter.EdgeSpec("T", "e", "T",
    srcVertexCount = 16, dstVertexCount = 16,
    chunkSize = 8, srcChunkSize = 8, dstChunkSize = 8)

  private def edges(rows: Seq[(Long, Long, Double)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("src", "dst", "w")
  }

  private def keys(rows: Seq[(Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("src", "dst")
  }

  private def fresh(): String = {
    val base = Files.createTempDirectory("gar_fold").toString
    GraphArMutations.initEdges(spark, base,
      edges((0L until 12L).map(i => (i, (i + 1) % 16, i.toDouble))), "F", spec)
    base
  }

  /** `n` deltas; with `removes`, each also removes one snapshot key. */
  private def staged(n: Int, removes: Boolean): String = {
    val base = fresh()
    (0 until n).foreach { k =>
      GraphArMutations.stageDelta(spark, base,
        adds = Some(edges(Seq((k.toLong, 15L, 100.0 + k)))),
        removeKeys = if (removes) Some(keys(Seq((k.toLong, k + 1L)))) else None)
    }
    base
  }

  test("building the folded view launches no Spark job at any log length") {
    for (removes <- Seq(false, true); n <- Seq(1, 5)) {
      val base = staged(n, removes)
      assert(Jobs.launchedBy(spark)(GraphArMutations.currentEdges(spark, base)) === 0,
        s"$n deltas, removes=$removes")
    }
  }

  test("a folded count launches as many jobs at 5 deltas as at 1") {
    for (removes <- Seq(false, true)) {
      val counts = Seq(1, 5).map { n =>
        val base = staged(n, removes)
        val folded = GraphArMutations.currentEdges(spark, base)
        var rows = 0L
        val jobs = Jobs.launchedBy(spark) { rows = folded.count() }
        assert(rows === (if (removes) 12L else 12L + n), s"$n deltas, removes=$removes")
        jobs
      }
      assert(counts(0) === counts(1), s"removes=$removes: jobs at 1 and 5 deltas")
    }
  }

  test("adds are staged in the snapshot's types; a type that cannot widen is refused") {
    val s = spark
    import s.implicits._
    val base = fresh()
    // int ids and an int weight widen to (long, long, double)
    GraphArMutations.stageDelta(spark, base,
      adds = Some(Seq((3, 9, 7)).toDF("src", "dst", "w")),
      removeKeys = Some(Seq((0, 1)).toDF("src", "dst")))
    val d0 = s"$base/delta/d0"
    val addsSchema = spark.read.parquet(s"$d0/adds").schema
    assert(addsSchema.map(_.dataType) === Seq(LongType, LongType, DoubleType))
    assert(spark.read.parquet(s"$d0/removes").schema.map(_.dataType) === Seq(LongType, LongType))
    val folded = GraphArMutations.currentEdges(spark, base)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(folded.contains((3L, 9L, 7.0)) && !folded.exists(e => e._1 == 0L && e._2 == 1L))
    assert(folded.size === 12)
    // a string weight does not widen to double: refused before any file
    val err = intercept[IllegalArgumentException] {
      GraphArMutations.stageDelta(spark, base,
        adds = Some(Seq((1L, 2L, "heavy")).toDF("src", "dst", "w")))
    }
    assert(err.getMessage.contains("w: string -> double"), err.getMessage)
    val keyErr = intercept[IllegalArgumentException] {
      GraphArMutations.stageDelta(spark, base,
        removeKeys = Some(Seq(("1", "2")).toDF("src", "dst")))
    }
    assert(keyErr.getMessage.contains("src: string -> bigint"), keyErr.getMessage)
    assert(GraphArMutations.stagedDeltas(spark, base) === Seq(0L))
    assert(!new java.io.File(s"$base/delta/d1").exists)
  }

  test("a delta staged before the schema contract, with int-typed adds, still folds and compacts") {
    val s = spark
    import s.implicits._
    val base = fresh()
    // the layout an earlier stage wrote: adds in the caller's types, no
    // _BASE_VERSION (a pre-watermark dir is live)
    val d0 = s"$base/delta/d0"
    Seq((5, 2, 1.5f)).toDF("src", "dst", "w").write.parquet(s"$d0/adds")
    Seq((1, 2)).toDF("src", "dst").write.parquet(s"$d0/removes")
    new java.io.File(s"$d0/_COMMITTED").createNewFile()
    val want = (0L until 12L).map(i => (i, (i + 1) % 16, i.toDouble))
      .filterNot(_ == ((1L, 2L, 1.0))) :+ ((5L, 2L, 1.5))
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    // Spark's parquet reader widens int32 -> int64 and float -> double
    // under the snapshot schema, so the fold needs no inference
    assert(rows(GraphArMutations.currentEdges(spark, base)) === want.sorted)
    assert(GraphArMutations.compactDeltas(spark, base) === 1L)
    assert(rows(GraphArMutations.currentEdges(spark, base)) === want.sorted)
  }

  test("building the folded vertex view launches no job; staged upserts carry the snapshot types") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("gar_vfold").toString
    GraphArMutations.initVertices(spark, base,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "score"), "V",
      GraphArWriter.VertexSpec("P", chunkSize = 2), orderCol = "id")
    (0 until 5).foreach { k =>
      GraphArMutations.stageVertexDelta(spark, base, "id",
        upserts = Some(Seq((10 + k, s"n$k", k)).toDF("id", "name", "score")),
        removeKeys = if (k == 2) Some(Seq(1).toDF("id")) else None)
    }
    assert(spark.read.parquet(s"$base/vdelta/d0/upserts").schema.map(_.dataType) ===
      Seq(LongType, org.apache.spark.sql.types.StringType, DoubleType))
    var folded: DataFrame = null
    assert(Jobs.launchedBy(spark) { folded = GraphArMutations.currentVertices(spark, base) } === 0)
    assert(folded.select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(2L, 10L, 11L, 12L, 13L, 14L))
    intercept[IllegalArgumentException] {
      GraphArMutations.stageVertexDelta(spark, base, "id",
        upserts = Some(Seq(("x", "n", 1.0)).toDF("id", "name", "score")))
    }
  }
}
