package graft

import graft.graph.{GraphOps, GraphQueries}

/** Diagnostic: k-truss size + peel convergence on the oracle fixture
  * graph, for choosing KTrussK / KTrussRounds (the oracle unrolls the
  * same bounded rounds, so the hash agrees regardless — but the truss
  * GUARANTEE needs the rounds to cover convergence).
  * Run: Test/runMain graft.TrussProbe [sfDir] [k...]
  */
object TrussProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val ks = if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(8, 12, 16, 20)
    val spark = Harness.session()
    val edges = GraphQueries.edgesFrom(spark, sfDir)
    ks.foreach { k =>
      val rounds = (1 to 7).map { r =>
        GraphOps.kTruss(spark, edges, k, rounds = r).count()
      }
      println(s"k=$k edges-after-round-1..7: ${rounds.mkString(", ")}")
    }
    spark.stop()
  }
}
