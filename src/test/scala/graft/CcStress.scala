package graft

import graft.graph.GraphOps

/** Diagnostic stress loop for the component/community operators against
  * brute force on random multigraphs — hundreds of graphs instead of
  * the 8-per-run scalacheck budget (this loop caught the self-loop-only
  * vertex omission the properties needed a lucky seed to hit).
  * Run: Test/runMain graft.CcStress [iters] [seed]
  */
object CcStress {
  def main(args: Array[String]): Unit = {
    val iters = args.headOption.map(_.toInt).getOrElse(300)
    val seed0 = if (args.length > 1) args(1).toLong else 12345L
    val spark = Harness.session(cores = 2)
    import spark.implicits._
    val rnd = new scala.util.Random(seed0)
    var failures = 0
    for (it <- 1 to iters) {
      val n = 3 + rnd.nextInt(10)
      val m = rnd.nextInt(41)
      val edges = List.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      if (edges.nonEmpty) {
        val got = GraphOps.connectedComponents(spark, edges.toDF("src", "dst"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val und = (edges ++ edges.map(_.swap)).groupBy(_._1)
          .view.mapValues(_.map(_._2).toSet).toMap
        val verts = (edges.map(_._1) ++ edges.map(_._2)).distinct
        val expected = verts.map { v0 =>
          var seen = Set(v0)
          var frontier = Set(v0)
          while (frontier.nonEmpty) {
            frontier = frontier.flatMap(v => und.getOrElse(v, Set.empty)).diff(seen)
            seen ++= frontier
          }
          v0 -> seen.min
        }.toMap
        if (got != expected) {
          failures += 1
          println(s"CC MISMATCH it=$it edges=$edges")
          println(s"  got=$got")
          println(s"  expected=$expected")
        }

        // SCC vs mutual-reachability brute force
        val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        def reach(v0: Long): Set[Long] = {
          var seen = Set(v0)
          var frontier = Set(v0)
          while (frontier.nonEmpty) {
            frontier = frontier.flatMap(v => adj.getOrElse(v, Set.empty)).diff(seen)
            seen ++= frontier
          }
          seen
        }
        val fwd = verts.map(v => v -> reach(v)).toMap
        val sccExpected = verts.map { v =>
          v -> fwd(v).filter(u => fwd(u).contains(v)).min
        }.toMap
        val sccGot = GraphOps.stronglyConnectedComponents(spark,
          edges.toDF("src", "dst")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        if (sccGot != sccExpected) {
          failures += 1
          println(s"SCC MISMATCH it=$it edges=$edges")
          println(s"  got=$sccGot")
          println(s"  expected=$sccExpected")
        }

        // LPA vs synchronous brute force (simple-graph semantics)
        val simple = edges.filter(e => e._1 != e._2)
        if (simple.nonEmpty) {
          val und2 = (simple ++ simple.map(_.swap)).distinct.groupBy(_._1)
            .view.mapValues(_.map(_._2)).toMap
          val vs2 = und2.keySet
          var labels = vs2.map(v => v -> v).toMap
          for (_ <- 1 to 3) {
            labels = vs2.map { v =>
              val counts = und2(v).groupBy(labels).view.mapValues(_.size)
              v -> counts.toSeq.maxBy { case (l, c) => (c, -l) }._1
            }.toMap
          }
          val lpaGot = GraphOps.labelPropagationCommunities(spark,
            edges.toDF("src", "dst"), 3).collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
          if (lpaGot != labels) {
            failures += 1
            println(s"LPA MISMATCH it=$it edges=$edges")
            println(s"  got=$lpaGot")
            println(s"  expected=$labels")
          }
        }
      }
      if (it % 50 == 0) println(s"CC stress $it/$iters failures=$failures")
    }
    println(s"CC stress done: $failures failures / $iters")
    spark.stop()
  }
}
