package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's in-process driver: sets up one workload's inputs
  * (several times, for a steady set-up time), warms up, then runs the
  * workload's passes in a closed loop for the requested seconds and
  * writes every op's timing and answer, the metrics and the protocol as
  * JSON. With `--trace 1` untraced and traced passes alternate; the traced
  * passes' spans give the per-layer metrics, and their latency against
  * the untraced passes is the tracing overhead.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --cores C --work DIR --out FILE
  */
object Main {
  val SetupReps = 3

  final case class Rec(id: Int, pass: Int, phase: String, name: String, cls: String,
                       key: String, t0: Long, t1: Long, answer: String, error: String,
                       leftover: Long) {
    def ms: Double = (t1 - t0) / 1e6
  }
  final case class PassRec(pass: Int, phase: String, t0: Long, t1: Long)

  def main(args: Array[String]): Unit = {
    val started = System.nanoTime()
    val timeline = mutable.LinkedHashMap.empty[String, Double]
    def mark(phase: String): Unit = timeline(phase) = (System.nanoTime() - started) / 1e9
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wlName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val work = a("work")

    val spark = SparkSession.builder()
      .appName("graft-perfbench").master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions",
        "graft.graph.GraftSparkSessionExtension,graftbench.TraceExtension")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    mark("session")
    try {
      val wl = Workload(wlName, spark, seed)
      val pins = new Pins(spark)
      // writer samples, kept from traced passes only
      val stats = new Stats

      val raw = s"$work/raw"
      wl.generate(raw)
      mark("generate")
      val setups = (0 until SetupReps).map { r =>
        val d = s"$work/setup$r"
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        wl.setup(d)
        (System.nanoTime() - t0) / 1e9
      }
      pins.setBase(wl.storedBytes)
      mark("setup")

      val recs = mutable.ArrayBuffer.empty[Rec]
      val passes = mutable.ArrayBuffer.empty[PassRec]
      var passIdx = 0
      var nextId = 0
      var storageAt: Option[(Long, Long, Long)] = None

      def runPass(phase: String): Unit = {
        val ops = wl.pass(passIdx)
        val p0 = System.nanoTime()
        ops.foreach { op =>
          // pins left over by the previous op, read before clearing
          val leftover = pins.now()
          spark.catalog.clearCache()
          val opStats = if (phase == "traced") stats else new Stats
          wl.beforeOp(op, opStats)
          nextId += 1
          val id = nextId
          Trace.currentOp = id
          sc.setLocalProperty(Trace.OpProperty, id.toString)
          val t0 = System.nanoTime()
          val (ans, err) =
            try (op.run(), null)
            catch { case e: Throwable => (null, s"${e.getClass.getName}: ${e.getMessage}") }
          val t1 = System.nanoTime()
          Trace.currentOp = -1
          sc.setLocalProperty(Trace.OpProperty, null)
          recs += Rec(id, passIdx, phase, op.name, op.cls, op.key, t0, t1, ans, err, leftover)
          wl.afterOp(op, opStats)
          if (op.cls == "write" || op.cls == "compact") pins.setBase(wl.storedBytes)
        }
        passes += PassRec(passIdx, phase, p0, System.nanoTime())
        // storage is read at a fixed point of the schedule (the end of the
        // first measured pass), so a faster run, which fits more passes
        // into its window, does not report more
        if (phase == "measure" && storageAt.isEmpty)
          storageAt = Some((pins.peaks._2, wl.storedBytes, wl.liveBytes))
        passIdx += 1
      }

      (0 until wl.warmupPasses).foreach(_ => runPass("warmup"))
      mark("warmup")
      pins.reset()
      val tracer = new Tracer(spark)
      val end = System.nanoTime() + (seconds * 1e9).toLong
      if (!trace) do runPass("measure") while (System.nanoTime() < end)
      else {
        // traced and untraced passes alternate, so both see the same JIT
        // and machine state and their difference is the tracing overhead
        var tracedNext = false
        do {
          if (tracedNext) {
            wl.traced = true
            tracer.start()
            Trace.on = true
            runPass("traced")
            Trace.on = false
            tracer.stop()
            wl.traced = false
          } else runPass("measure")
          tracedNext = !tracedNext
        } while (System.nanoTime() < end || tracedNext)
      }
      pins.close()
      mark("measure")

      val m = Metrics(recs.toSeq, passes.toSeq, setups, storageAt.get, stats, tracer, pins, wl)
      val out = Json.obj(
        "workload" -> Json.str(wlName),
        "raw" -> Json.str(raw),
        "inputs" -> Json.str(s"$work/setup${SetupReps - 1}"),
        "protocol" -> protocol(spark, seed, seconds, cores, trace),
        "setup_s" -> Json.arr(setups.map(Json.num)),
        "timeline_s" -> Json.numObj(timeline.toSeq),
        "end_to_end" -> Json.numObj(m.endToEnd),
        "detail" -> Json.numObj(m.detail),
        "per_layer" -> (if (trace) Json.numObj(m.perLayer) else "{}"),
        "ops" -> Json.arr(recs.toSeq.map(r => Json.obj(
          "id" -> r.id.toString, "pass" -> r.pass.toString, "phase" -> Json.str(r.phase),
          "name" -> Json.str(r.name), "cls" -> Json.str(r.cls), "key" -> Json.str(r.key),
          "ms" -> Json.num(r.ms), "answer" -> Json.str(r.answer),
          "error" -> Json.str(r.error))))
      )
      write(a("out"), out)
      if (trace) write(a("out").stripSuffix(".json") + "_spans.json",
        Json.arr(m.tracedSpans.map(s => Json.obj(
          "id" -> s.id.toString, "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
          "start_ns" -> s.start.toString, "end_ns" -> s.end.toString,
          "parent" -> s.parent.toString, "op" -> s.op.toString))))
    } finally spark.stop()
  }

  private def write(path: String, s: String): Unit =
    Files.write(new File(path).toPath, s.getBytes(StandardCharsets.UTF_8))

  private def protocol(spark: SparkSession, seed: Long, seconds: Double, cores: Int,
                       trace: Boolean): String = {
    val confs = spark.sparkContext.getConf.getAll.toSeq
      .filterNot { case (k, _) => k.contains("dir") || k.contains("host") ||
        k.contains("port") || k.contains(".id") || k.contains("startTime") }
      .sortBy(_._1)
    Json.obj(
      "cores" -> cores.toString,
      "heap_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "seed" -> seed.toString,
      "seconds" -> Json.num(seconds),
      "trace" -> trace.toString,
      "setup_reps" -> SetupReps.toString,
      "jvm" -> Json.str(s"${System.getProperty("java.vm.name")} " +
        s"${System.getProperty("java.runtime.version")}"),
      "spark" -> Json.str(spark.version),
      "spark_confs" -> Json.obj(confs.map { case (k, v) => k -> Json.str(v) }: _*),
      "sql_confs" -> Json.obj(Seq("spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold").map(k => k -> Json.str(spark.conf.get(k))): _*)
    )
  }
}

/** Minimal JSON writing. */
object Json {
  def str(s: String): String =
    if (s == null) "null" else s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def numObj(m: Seq[(String, Double)]): String = obj(m.map { case (k, v) => k -> num(v) }: _*)
}
