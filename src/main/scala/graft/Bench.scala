package graft

import org.apache.spark.sql.functions._

import graft.graph.{GraphArGraph, GraphOps, GraphQueries}

/** Benchmark main (driver contract): runs the headline queries on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line.
  *
  * Headline names mirror BASELINE.md rows (reference
  * docs/benchmarks.md): vertex_count, edge_count, three_vertices,
  * one_hop, two_hop, max_degree, degree_distribution, path_exist — all
  * run over a GraphAr graph built from the sf's lineitem/part tables
  * (at sf0.1: ~600k edges, comparable to the git graph's 578k). The
  * LLM-pipeline extras run on the raw parquet tables.
  *
  * Timing protocol: each query gets ONE unrecorded warm-up run, then
  * `runs` (default 3) recorded in-process repetitions; the headline
  * number is the MEDIAN (host-load spikes on a shared box hit one rep,
  * not the middle of three), with min and n reported alongside so a
  * reader can see the spread. `value` (the cross-round total) is the
  * sum of medians. Fixture build time is reported separately as
  * `fixture_build` — it is ETL, not query time, and runs once (it
  * writes the on-disk graph; a repeat would measure an overwrite).
  *
  * `Bench sweep <sfDir> <name|all> [name ...]` instead times declared
  * queries through the noop sink (see [[sweep]]).
  */
object Bench {
  private final case class Res(median: Double, min: Double, n: Int)

  sealed trait Mode
  /** No arguments: the headline queries, one JSON line. */
  case object Headline extends Mode
  /** `sweep <sfDir> <name|all> ...`: declared queries through the noop
    * sink, one line per rep plus a median summary. */
  final case class Sweep(sfDir: String, names: Seq[String]) extends Mode

  private val Usage = "usage: Bench | Bench sweep <sfDir> <name|all> [name ...]"

  /** Pure argument parsing: an unknown query name fails here, before
    * any session is built. */
  def parse(args: Seq[String]): Mode = args match {
    case Seq() => Headline
    case Seq("sweep", sfDir, names @ _*) if names.nonEmpty =>
      val list = if (names == Seq("all")) SparkEntry.queries.keys.toSeq.sorted
        else names
      SparkEntry.requireKnown(list)
      Sweep(sfDir, list)
    case _ => throw new IllegalArgumentException(Usage)
  }

  def main(args: Array[String]): Unit = parse(args.toSeq) match {
    case Headline => headline()
    case Sweep(sfDir, names) => sweep(sfDir, names)
  }

  private def headline(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(logLevel = "WARN")

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Res]

    // PAGE-CACHE PRE-TOUCH (round-13 measurement-hygiene fix, recorded
    // in OPTIMIZATION_r13.md): a bench run scheduled after a long test
    // suite found the testdata evicted from the OS page cache and read
    // 30-100% slower on every file-reading query while the (file-free)
    // calibration probe got FASTER — a poisoning the calibration guard
    // cannot catch. One sequential read of the sf directory (a few MB
    // at bench SFs) makes the cache state deterministic regardless of
    // what ran before. This touches INPUT BYTES only — no results, no
    // intermediates — every timed rep still computes from parquet.
    preTouch(new java.io.File(sfDir))

    def timed(name: String, runs: Int = 3, warmup: Boolean = true)
             (f: => Unit): Unit = {
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      val total = (if (warmup) 1 else 0) + runs
      var i = 0
      while (i < total) {
        // REP HYGIENE (round-13 fix, VERDICT r12 item 2): operators pin
        // multi-consumer intermediates with persist(); without clearing,
        // the CacheManager served every timed rep from cache built in
        // the untimed warm-up ("Asked to cache already cached data"
        // warnings), so a pinned subtree's build cost was measured ZERO
        // times instead of once. Clearing before EVERY rep makes each
        // rep pay exactly one build of everything it pins — the honest
        // steady-state cost. Old-protocol numbers: BENCH_r12.json.
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        try f catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            results(name) = Res(-1.0, -1.0, 0)
            return
        }
        val dt = (System.nanoTime() - t0) / 1e9
        if (!warmup || i > 0) times += dt // rep 0 is the warm-up
        i += 1
      }
      val sorted = times.sorted
      results(name) = Res(sorted(sorted.length / 2), sorted.head, sorted.length)
    }

    // -- calibration probe (fixed synthetic CPU + shuffle work, no
    // data dependence): the box this bench shares drifts 2-3× across
    // rounds, which poisons cross-round absolute comparisons — the
    // probe's median is the round's speed yardstick, and every query
    // median is also reported normalized by it ("queries_normalized"),
    // so a judge can diff rounds without a manual A/B. Excluded from
    // `value` like fixture_build.
    timed("calibration") {
      spark.range(0L, 20000000L, 1L, 16)
        .select(pmod(col("id") * 2654435761L, lit(1048576L)).as("k"),
          col("id"))
        .groupBy(col("k"))
        .agg(sum(col("id")).as("s"), count(lit(1)).as("n"))
        .select(sum(col("s")), sum(col("n"))).collect()
    }

    // -- fixture (ETL, timed once, separate key)
    var yaml: String = null
    timed("fixture_build", runs = 1, warmup = false) {
      yaml = sources.graphar.GraphArQueries.fixture(spark, sfDir)
    }
    if (yaml == null) {
      // fixture failed: still honor the one-JSON-line driver contract
      // (graph queries are skipped; their keys are simply absent)
      emit(results, sfDir, spark.sparkContext.defaultParallelism >= 32)
      spark.stop()
      return
    }
    val g = GraphArGraph(spark, yaml)
    val root = GraphQueries.RootVid

    // -- reference headline queries (BASELINE.md rows)
    timed("vertex_count") { g.vertices("Part").count() }
    timed("edge_count") { g.edges("Part", "link", "Part").count() }
    timed("three_vertices") { g.vertices("Part").limit(3).collect() }
    timed("one_hop") {
      g.oneHop("Part", "link", "Part", root).count()
    }
    timed("two_hop") {
      g.twoHop("Part", "link", "Part", root).count()
    }
    timed("max_degree") { g.maxDegree("Part", "link", "Part").collect() }
    timed("degree_distribution") {
      g.degreeDistribution("Part", "link", "Part").count()
    }
    timed("path_exist") {
      // edge count from GraphAr metadata (a driver-side 8-byte read, no
      // job) — the old persist+count() pre-pass materialized the whole
      // edge scan into cache even when the CSR path then read it exactly
      // once via its collect (one full pass wasted per rep); the
      // distributed branch now pins the edge table inside
      // bfsLengthsAuto instead.
      // cost-based BFS: below the CSR threshold the whole pair batch is
      // answered from a collected adjacency in ONE job; above it, the
      // batched distributed frontier loop (one join per level for all
      // pairs) — the strategy choice is the same size-driven call Spark
      // makes for broadcast vs sort-merge joins
      val ei = g.info.edge("Part", "link", "Part")
      val n = ei.edgeCount(ei.adjLists.head,
        spark.sessionState.newHadoopConf())
      GraphOps.bfsLengthsAuto(spark, g.edgesStd("Part", "link", "Part"),
        GraphQueries.bfsPairs, GraphQueries.bfsMaxDepth, edgeCount = n)
    }

    // -- LLM-pipeline extras on the raw tables
    timed("q1_agg") {
      operators.Relational.queries("q1_agg")(spark, sfDir).count()
    }
    timed("minhash_dedup") {
      operators.Dedup.queries("d_minhash_lsh")(spark, sfDir).count()
    }
    timed("sim_topk") {
      operators.Similarity.queries("sim_topk")(spark, sfDir).count()
    }
    timed("sessionize") {
      operators.Relational.queries("q12_sessionize")(spark, sfDir).count()
    }

    emit(results, sfDir, spark.sparkContext.defaultParallelism >= 32)
    spark.stop()
  }

  /** The sweep measurement: each query through the noop sink (computes
    * every column of every row, collects nothing), with warm-up reps
    * and repeated timed reps. Env: SWEEP_REPS (default 3), SWEEP_WARMUP
    * (default 1), SWEEP_CLEAR_CACHE (default 1: clear the CacheManager
    * between reps so each rep pays its own cache builds), SWEEP_CONF. */
  private def sweep(sfDir: String, names: Seq[String]): Unit = {
    val reps = sys.env.getOrElse("SWEEP_REPS", "3").toInt
    val warmup = sys.env.getOrElse("SWEEP_WARMUP", "1").toInt
    val clear = sys.env.getOrElse("SWEEP_CLEAR_CACHE", "1") == "1"
    val spark = Harness.session(logLevel = "WARN", conf = Harness.envConf)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      var i = 0
      var failed: String = null
      while (i < warmup + reps && failed == null) {
        if (clear) spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(s"sweep:$name rep $i")
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => failed = e.getMessage }
        val dt = (System.nanoTime() - t0) / 1e9
        if (failed == null) {
          if (i >= warmup) times += dt
          println(f"[sweep] $name rep $i: $dt%.3f s")
        }
        i += 1
      }
      if (failed != null) println(s"[sweep] $name FAILED: $failed")
      else {
        val s = times.sorted
        println(f"[sweep] $name MEDIAN ${s(s.length / 2)}%.3f s MIN ${s.head}%.3f (n=${s.length})")
      }
    }
    spark.stop()
  }

  /** Sequentially read every regular file under `dir` (page-cache
    * warm-up only; bytes are discarded). */
  private def preTouch(dir: java.io.File): Unit = {
    val buf = new Array[Byte](1 << 20)
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(walk)
      else if (f.isFile) {
        val in = new java.io.FileInputStream(f)
        try { while (in.read(buf) >= 0) () } finally in.close()
      }
    scala.util.Try(walk(dir))
  }

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def emit(results: scala.collection.mutable.LinkedHashMap[String, Res],
                   sfDir: String, guardArmed: Boolean): Unit = {
    val qs = results.map { case (k, r) =>
      "\"" + jsonEscape(k) + "\":{\"median\":" + r.median +
        ",\"min\":" + r.min + ",\"n\":" + r.n + "}"
    }.mkString("{", ",", "}")
    // total = QUERY time only (sum of medians): fixture_build is ETL,
    // reported separately. A failed query (sentinel median -1.0, n 0)
    // is EXCLUDED from the sum, so the failure is reported explicitly:
    // `failed` lists the names and `ok` is false — cross-round totals
    // are only comparable when the passing sets match.
    val failed = results.iterator
      .collect { case (k, r) if r.median < 0 => k }.toSeq
    val excluded = Set("fixture_build", "calibration")
    val total = results.iterator
      .filter { case (k, r) => !excluded(k) && r.median >= 0 }
      .map(_._2.median).sum
    // drift-normalized medians: query / calibration — unitless speed
    // ratios that stay comparable across rounds on a drifting box
    val calib = results.get("calibration").map(_.median).filter(_ > 0)
    // DRIFT GUARD: a calibration median more than 2× the recorded
    // best-observed floor means the box is contended enough that the
    // ABSOLUTE seconds in this run are poisoned (a round-9 misread of
    // exactly this kind cost a full judging cycle). Fail loudly —
    // ok:false with the reason in `failed` — instead of silently
    // publishing them; the normalized ratios remain trustworthy and
    // are still emitted. The floor is SELF-MAINTAINING: the run uses
    // the tightest of the compiled-in seed and every
    // `calibration_floor_next` recorded in the bench artifact chain
    // (BENCH_r*.json in the working dir), and emits the floor it would
    // carry forward — a legitimately faster box tightens the floor on
    // its first clean run with no hand edit. The probe is
    // CPU-count-sensitive, so the guard arms (and the floor only
    // tightens) at the driver's reference parallelism — a local[8]
    // dev smoke legitimately runs the fixed work ~2-4× slower and
    // must neither fail the guard nor pollute the floor chain.
    val floorUsed = calibrationFloor
    val drifted = guardArmed && calib.exists(_ > 2.0 * floorUsed)
    val floorNext = calib match {
      case Some(c) if guardArmed && c < floorUsed => c
      case _ => floorUsed
    }
    val failedAll = failed ++
      (if (drifted) Seq("calibration_drift>2x_floor") else Nil)
    val fjAll = failedAll.map(n => "\"" + jsonEscape(n) + "\"")
      .mkString("[", ",", "]")
    val qn = calib.map { c =>
      val entries = results.iterator
        .filter { case (k, r) => !excluded(k) && r.median >= 0 }
        .map { case (k, r) =>
          "\"" + jsonEscape(k) + "\":" + (r.median / c)
        }.mkString("{", ",", "}")
      s""","calibration":$c,"calibration_floor":$floorUsed,"calibration_floor_next":$floorNext,"calibration_drift":$drifted,"value_normalized":${total / c},"queries_normalized":$entries"""
    }.getOrElse("")
    println(s"""{"metric":"total","value":$total,"unit":"sec","ok":${failedAll.isEmpty},"failed":$fjAll$qn,"queries":$qs,"sf":"${jsonEscape(sfDir)}"}""")
  }

  /** Seed floor: the lowest calibration-probe median recorded on the
    * reference box before the floor chain existed (BENCH_r10:
    * 1.396 s). Never hand-edit downward again — a faster box records
    * its own `calibration_floor_next` and [[calibrationFloor]] picks
    * it up. */
  private val SeedCalibrationFloorSec = 1.396

  /** Effective floor for this run: the tightest of the seed and every
    * floor the artifact chain carries forward. */
  private[graft] def calibrationFloor: Double =
    (SeedCalibrationFloorSec +:
      benchArtifacts().flatMap(floorNextIn)).min

  private def benchArtifacts(): Seq[java.io.File] =
    Option(new java.io.File(".").listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.matches("BENCH_r\\d+\\.json"))

  /** Parse `calibration_floor_next` out of one bench artifact (None
    * for pre-chain artifacts or unreadable files — the chain degrades
    * to the seed, never aborts the bench). */
  private[graft] def floorNextIn(f: java.io.File): Option[Double] =
    scala.util.Try {
      val s = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val m = java.util.regex.Pattern
        .compile("\"calibration_floor_next\"\\s*:\\s*([0-9.eE+-]+)")
        .matcher(s)
      if (m.find()) Some(m.group(1).toDouble) else None
    }.toOption.flatten.filter(v => v > 0 && !v.isNaN)
}
