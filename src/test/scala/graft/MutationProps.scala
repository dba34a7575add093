package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.sources.graphar.{GraphArMutations, GraphArWriter}
import graft.streaming.GraphArSink

/** Model-based property test for the mutation verbs: a random sequence
  * of committed mutations, staged deltas, and compactions applied to a
  * versioned GraphAr graph must agree with a trivial in-memory multiset
  * model at EVERY step — both the folded view ([[GraphArMutations
  * .currentEdges]]) and, after compaction, the snapshot itself. The
  * folded view must also equal the sequential fold (one union and one
  * anti-join per staged delta, in order), kept here as the oracle of the
  * engine's one-plan fold. The generator covers an add and a remove of
  * one key staged in the same delta, duplicate adds, and a removes-only
  * first delta that deletes a snapshot edge.
  */
object MutationProps extends Properties("graft.mutations") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(4)

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val nVerts = 9L

  sealed trait Op
  private case class CommitAdd(edges: List[(Long, Long)]) extends Op
  private case class CommitRemove(keys: List[(Long, Long)]) extends Op
  private case class StageAdd(edges: List[(Long, Long)]) extends Op
  private case class StageRemove(keys: List[(Long, Long)]) extends Op
  private case class StageBoth(edges: List[(Long, Long)],
                               keys: List[(Long, Long)]) extends Op
  private case object Compact extends Op

  private val genPair: Gen[(Long, Long)] = for {
    s <- Gen.choose(0L, nVerts - 1)
    d <- Gen.choose(0L, nVerts - 1)
  } yield (s, d)
  private val genPairs: Gen[List[(Long, Long)]] =
    Gen.choose(1, 6).flatMap(Gen.listOfN(_, genPair))
  private val genOp: Gen[Op] = Gen.frequency(
    3 -> genPairs.map(CommitAdd),
    2 -> genPairs.map(CommitRemove),
    3 -> genPairs.map(StageAdd),
    // duplicate adds: every pair staged twice in one delta
    1 -> genPairs.map(es => StageAdd(es ::: es)),
    2 -> genPairs.map(StageRemove),
    // one delta adding and removing: the removes overlap the adds
    2 -> (for (es <- genPairs; more <- genPairs) yield StageBoth(es, es.take(1) ::: more)),
    2 -> Gen.const(Compact))
  // half the sequences open with a removes-only d0 deleting a snapshot
  // edge (the snapshot's rows must fold as older than delta 0)
  private val genOps: Gen[List[Op]] = for {
    lead <- Gen.oneOf(Nil, List(StageRemove(List((0L, 1L)))))
    rest <- Gen.choose(1, 7).flatMap(Gen.listOfN(_, genOp))
  } yield lead ::: rest

  /** The model: a multiset of (src, dst) pairs (weights all 1.0). */
  private def applyModel(m: Map[(Long, Long), Int],
                         adds: List[(Long, Long)],
                         removes: List[(Long, Long)]): Map[(Long, Long), Int] = {
    val added = adds.foldLeft(m)((acc, e) => acc.updated(e, acc.getOrElse(e, 0) + 1))
    added -- removes
  }

  /** The sequential fold: LATEST's snapshot, then each staged delta in
    * order — union its adds, anti-join its removes. */
  private def sequentialFold(base: String): DataFrame = {
    val snap = spark.read.format("graphar")
      .option("path", GraphArSink.latestYaml(spark, base))
      .option("src", "T").option("type", "e").option("dst", "T").load()
      .withColumnRenamed("_graphArSrcIndex", "src")
      .withColumnRenamed("_graphArDstIndex", "dst")
    GraphArMutations.stagedDeltas(spark, base).foldLeft(snap) { (cur, k) =>
      def part(name: String) = {
        val p = new java.io.File(s"$base/delta/d$k/$name")
        if (p.exists) Some(spark.read.parquet(p.toString)) else None
      }
      val withAdds = part("adds").fold(cur)(cur.unionByName(_))
      part("removes").fold(withAdds)(withAdds.join(_, Seq("src", "dst"), "left_anti"))
    }
  }

  private def multiset(df: DataFrame): Map[(Long, Long, Double), Long] =
    df.groupBy("src", "dst", "w").count().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)) -> r.getLong(3)).toMap

  property("random verb sequences match the multiset model at every step") =
    forAll(genOps) { ops =>
      val s = spark
      import s.implicits._
      val base = Files.createTempDirectory("mut_prop").toString
      val spec = GraphArWriter.EdgeSpec("T", "e", "T",
        srcVertexCount = nVerts, dstVertexCount = nVerts,
        chunkSize = 4, srcChunkSize = 4, dstChunkSize = 4)
      val init = List((0L, 1L), (1L, 2L))
      def toDF(pairs: List[(Long, Long)]) =
        pairs.toDF("src", "dst").withColumn("w",
          org.apache.spark.sql.functions.lit(1.0))
      GraphArMutations.initEdges(spark, base, toDF(init), "P", spec)
      var model: Map[(Long, Long), Int] =
        init.groupBy(identity).view.mapValues(_.size).toMap
      // commits apply to the FOLDED state (commitEdges reads only the
      // snapshot), so a commit with staged deltas pending would diverge
      // from the model — mirror the real usage rule: compact first
      def commitBarrier(): Unit =
        if (GraphArMutations.stagedDeltas(spark, base).nonEmpty)
          GraphArMutations.compactDeltas(spark, base)
      val ok = ops.forall { op =>
        op match {
          case CommitAdd(es) =>
            commitBarrier()
            GraphArMutations.addEdges(spark, base, toDF(es))
            model = applyModel(model, es, Nil)
          case CommitRemove(ks) =>
            commitBarrier()
            GraphArMutations.removeEdges(spark, base, ks.toDF("src", "dst"))
            model = applyModel(model, Nil, ks)
          case StageAdd(es) =>
            GraphArMutations.stageDelta(spark, base, adds = Some(toDF(es)))
            model = applyModel(model, es, Nil)
          case StageRemove(ks) =>
            GraphArMutations.stageDelta(spark, base,
              removeKeys = Some(ks.toDF("src", "dst")))
            model = applyModel(model, Nil, ks)
          case StageBoth(es, ks) =>
            GraphArMutations.stageDelta(spark, base, adds = Some(toDF(es)),
              removeKeys = Some(ks.toDF("src", "dst")))
            model = applyModel(model, es, ks)
          case Compact =>
            GraphArMutations.compactDeltas(spark, base)
        }
        val folded = GraphArMutations.currentEdges(spark, base)
        val got = folded
          .groupBy("src", "dst").count().collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2).toInt).toMap
        got == model && multiset(folded) == multiset(sequentialFold(base))
      }
      // final compaction: the snapshot alone must equal the model too
      GraphArMutations.compactDeltas(spark, base)
      val e = GraphArSink.versions(spark, base) // sanity: history intact
      val snap = GraphArMutations.currentEdges(spark, base)
        .groupBy("src", "dst").count().collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2).toInt).toMap
      ok && snap == model && e.nonEmpty
    }
}
