package graft

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

/** The entry points without Spark: each main parses its arguments with
  * a pure function before it builds a session, so a bad command fails
  * here first; the scale timing loop's `only=` filter never
  * evaluates a skipped body; and a rung under `only=` builds only what
  * the selected label reads.
  */
class HarnessSpec extends AnyFunSuite {

  test("an unknown rung, sweep name or dump name fails in parsing, before any session") {
    intercept[IllegalArgumentException](ScaleBench.parse(Seq("nope", "1")))
    intercept[IllegalArgumentException](ScaleBench.parse(Nil))
    intercept[IllegalArgumentException](
      Bench.parse(Seq("sweep", "/sf", "g_pagerank", "no_such_query")))
    intercept[IllegalArgumentException](Bench.parse(Seq("sweep", "/sf")))
    intercept[IllegalArgumentException](
      Plans.parse(Seq("dump", "/sf", "/out", "r", "no_such_query")))
    intercept[IllegalArgumentException](Plans.parse(Seq("dump", "/sf", "/out", "r")))

    assert(ScaleBench.parse(Seq("graph", "/sf", "1", "1", "only=ppr_10iter")) ===
      ScaleBench.Cmd("graph", Seq("/sf", "1", "1"), Some("ppr_10iter")))
    assert(ScaleBench.parse(Seq("zipf")) === ScaleBench.Cmd("zipf", Nil, None))
    assert(Bench.parse(Seq("sweep", "/sf", "g_pagerank")) ===
      Bench.Sweep("/sf", Seq("g_pagerank")))
    assert(Plans.parse(Seq("dump", "/sf", "/out", "r", "g_pagerank")) ===
      Plans.Dump("/sf", "/out", "r", Seq("g_pagerank")))
    assert(Plans.parse(Nil).asInstanceOf[Plans.Regenerate].out === "docs/PLANS.md")
  }

  test("a scale rung under only= builds just what the selected label reads") {
    assert(ScaleBench.needsMergeTable(None))
    assert(ScaleBench.needsMergeTable(Some("bpe_encode_512")))
    assert(!ScaleBench.needsMergeTable(Some("bm25_top20")))
    assert(ScaleBench.vectorSteps(None) ===
      Set("ivf_build", "ivfpq_build", "ivfpq_append_1pct", "ivfpq_compact"))
    assert(ScaleBench.vectorSteps(Some("ivf_stored_probe")) === Set("ivf_build"))
    assert(ScaleBench.vectorSteps(Some("ivfpq_stored_probe")) === Set("ivfpq_build"))
    assert(ScaleBench.vectorSteps(Some("ivfpq_probe_with_delta")) ===
      Set("ivfpq_build", "ivfpq_append_1pct"))
    assert(ScaleBench.vectorSteps(Some("ivfpq_probe_compacted")) ===
      Set("ivfpq_build", "ivfpq_append_1pct", "ivfpq_compact"))
    assert(ScaleBench.vectorSteps(Some("brute_topk")).isEmpty)
  }

  test("Bench with no arguments selects the headline mode; sweep all expands") {
    assert(Bench.parse(Nil) === Bench.Headline)
    assert(Bench.parse(Seq("sweep", "/sf", "all")) ===
      Bench.Sweep("/sf", SparkEntry.queries.keys.toSeq.sorted))
  }

  test("only= skips every other label without evaluating its body") {
    val lines = ArrayBuffer.empty[String]
    val time = new Harness.Timer("SCALE", 2, Some("b"), lines += _)
    var ran = 0
    time("a")(sys.error("a must not run"))
    time.once("c")(sys.error("c must not run"))
    time("b")(ran += 1)
    assert(ran === 2)
    assert(lines.size === 1)
    assert(lines.head.matches("""SCALE b best=\d+\.\d{3} all=\d+\.\d{3},\d+\.\d{3}"""),
      lines.head)

    lines.clear()
    val all = new Harness.Timer("ZIPF", 1, None, lines += _)
    all("x")(())
    all.once("y")(())
    assert(lines.map(_.split(' ').take(2).mkString(" ")) === Seq("ZIPF x", "ZIPF y"))
    assert(lines(1).endsWith("all=single"))
    assert(Harness.only(Seq("12", "2", "only=mst")) === Some("mst"))
    assert(Harness.only(Seq("12")) === None)
  }
}
