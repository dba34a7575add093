package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graph.{GraphOps, GraphQueries}

/** Eccentricity / graph summary / bipartite co-occurrence: each test
  * pins a property the DuckDB oracle can't — equivalence to in-memory
  * brute force on random inputs, and the fixpoint claim that makes the
  * gate's BOUNDED eccentricity the exact one.
  */
class Round7EccCooccurSpec extends AnyFunSuite {

  implicit lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  test("size-guarded eager pins return the lazy plans' exact rows") {
    // the eager-materialization path (the pairTable input guard) must be
    // row-identical to the lazy default the oracle pins; BM25 postings
    // and co-occurrence scores have no eager path left to compare
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val docs = Tables.t(spark, sf, "documents")
    val lazyPmi = rows(operators.TextAnalysis.pmiBigrams(docs))
    spark.conf.set("spark.graft.pairTable.minInputBytes", "0")
    try assert(rows(operators.TextAnalysis.pmiBigrams(docs)) === lazyPmi)
    finally spark.conf.unset("spark.graft.pairTable.minInputBytes")
  }

  private def bruteEcc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.distinct.groupBy(_._1).map { case (s, es) =>
      s -> es.map(_._2).toSet
    }
    val verts = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    verts.map { s =>
      var depth = 0L
      var frontier = Set(s)
      var seen = Set(s)
      var ecc = 0L
      while (frontier.nonEmpty) {
        depth += 1
        frontier = frontier.flatMap(v => adj.getOrElse(v, Set.empty)) -- seen
        if (frontier.nonEmpty) { ecc = depth; seen ++= frontier }
      }
      s -> ecc
    }.toMap
  }

  test("eccentricity equals in-memory all-source BFS on random multigraphs") {
    import spark.implicits._
    for (seed <- Seq(0xE7, 0xC0)) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(300)(
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      // iters = V is always past fixpoint on a 60-vertex graph
      val got = GraphOps.eccentricity(spark, edges.toDF("src", "dst"), 60)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === bruteEcc(edges), s"seed $seed")
    }
  }

  test("gate round bound reaches fixpoint: EccRounds is exact on the induced graph") {
    val induced = GraphQueries.edgesFrom(spark, sf)
      .filter(col("src") < GraphQueries.EccInduced
        && col("dst") < GraphQueries.EccInduced)
    val atBound = GraphOps.eccentricity(spark, induced, GraphQueries.EccRounds)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val past = GraphOps.eccentricity(spark, induced, GraphQueries.EccRounds + 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(atBound === past,
      "bounded eccentricity changed past EccRounds — raise the constant")
  }

  test("graphSummary is consistent with the per-vertex eccentricity table") {
    val induced = GraphQueries.edgesFrom(spark, sf)
      .filter(col("src") < GraphQueries.EccInduced
        && col("dst") < GraphQueries.EccInduced)
    val ecc = GraphOps.eccentricity(spark, induced, GraphQueries.EccRounds)
      .collect().map(_.getLong(1)).filter(_ > 0L)
    val row = GraphOps.graphSummary(spark, induced, GraphQueries.EccRounds)
      .collect().head
    assert(row.getLong(0) === ecc.max)
    assert(row.getLong(1) === ecc.min)
    assert(row.getLong(2) === ecc.count(_ == ecc.min).toLong)
    assert(row.getLong(3) === ecc.count(_ == ecc.max).toLong)
  }

  test("cooccurrenceTopK equals in-memory brute force on random baskets") {
    import spark.implicits._
    val rnd = new scala.util.Random(0xCC)
    val rows = Seq.fill(600)(
      (rnd.nextInt(120).toLong, rnd.nextInt(40).toLong))
    val (minSup, maxBasket, topK) = (2, 8, 3)

    val inc = rows.distinct
    val sizes = inc.groupBy(_._1).view.mapValues(_.size).toMap
    val kept = inc.filter { case (b, _) => sizes(b) <= maxBasket }
    val totals = kept.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val pairs = kept.groupBy(_._1).values.toSeq.flatMap { items =>
      val is = items.map(_._2).sorted
      for (i <- is.indices; j <- (i + 1) until is.size) yield (is(i), is(j))
    }.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= minSup).toSeq
    val scored = pairs.map { case ((a, b), sup) =>
      (a, b, sup, 1000000L * sup * sup / (totals(a) * totals(b)))
    }
    val want = (scored.map { case (a, b, s, m) => (a, b, s, m) } ++
      scored.map { case (a, b, s, m) => (b, a, s, m) })
      .groupBy(_._1).flatMap { case (item, ps) =>
        ps.sortBy { case (_, p, s, m) => (-m, -s, p) }.take(topK)
          .zipWithIndex.map { case ((_, p, s, m), i) =>
            (item, p, s, m, i + 1)
          }
      }.toSet

    val got = GraphOps.cooccurrenceTopK(
      rows.toDF("basket", "item"), minSup, maxBasket, topK)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet
    assert(got === want)
  }
}
