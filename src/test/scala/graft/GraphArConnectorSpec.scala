package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.graphar.ChunkIO

/** Connector specs mirroring the reference SQLLogicTest golden values
  * (config/test/sql/graphar/read_vertices.test) against the in-repo copy of
  * the reference's trimmed `git` fixture (src/test/resources/graphar/git,
  * built from FIXTURES.md §1). That copy is not written by graft's own
  * writer, so this checks reading the reference layout, not a write/read
  * round trip.
  */
class GraphArConnectorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val gitYaml = getClass.getResource("/graphar/git/Git.yaml").getPath

  def gitVertices = spark.read.format("graphar")
    .option("path", gitYaml).option("type", "Person").load()

  test("reference fixture: vertex count == 37700 (read_vertices.test golden)") {
    // via metadata (aggregate pushdown)
    assert(gitVertices.count() === 37700L)
    // via actual CSV chunk scan (no pushdown path)
    assert(gitVertices.rdd.count() === 37700L)
  }

  test("reference fixture: schema = synthetic index + flattened properties") {
    assert(gitVertices.schema.fieldNames.toSeq ===
      Seq("_graphArVertexIndex", "hash_phone_no"))
  }

  test("reference fixture: point lookup by vertex index prunes to one row") {
    val row = gitVertices.filter(col("_graphArVertexIndex") === 41L).collect()
    assert(row.length === 1)
    // fixture materializes hash_phone_no == index
    assert(row(0).getInt(1) === 41)
    // pruning: the filtered scan plans exactly one partition/row
    val pruned = gitVertices.filter(col("_graphArVertexIndex") === 41L)
    assert(pruned.rdd.getNumPartitions === 1)
  }

  test("reference fixture: out-of-range index yields empty (not error)") {
    assert(gitVertices.filter(col("_graphArVertexIndex") === 99999999L).count() === 0)
  }

  test("reference fixture: property filter stays correct as residual") {
    val r = gitVertices.filter(col("hash_phone_no") === 42).collect()
    assert(r.map(_.getLong(0)).toSeq === Seq(42L))
  }

  test("limit pushdown plans only needed rows") {
    val three = gitVertices.limit(3).collect()
    assert(three.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
  }

  test("csv codec handles quoting") {
    assert(ChunkIO.splitCsvLine("""a,"b,c",d""").toSeq === Seq("a", "b,c", "d"))
    assert(ChunkIO.splitCsvLine(""""x""y",2""").toSeq === Seq("x\"y", "2"))
    assert(ChunkIO.splitCsvLine("1,,3").toSeq === Seq("1", "", "3"))
  }
}
