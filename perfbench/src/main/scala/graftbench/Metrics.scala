package graftbench

import scala.jdk.CollectionConverters._

import graftbench.Main.{PassRec, Rec}

/** The metrics of one run: end-to-end figures from the untraced window,
  * per-layer figures from the traced one. */
final case class Metrics(endToEnd: Seq[(String, Double)], detail: Seq[(String, Double)],
                         perLayer: Seq[(String, Double)], tracedSpans: Seq[Span])

object Metrics {
  /** Operator names reported as `graph.op_s.<op>` and `operators.op_s.<op>`. */
  val GraphOpNames = Seq("bfs_length")
  val OperatorNames = Seq("dedup_exact", "minhash_lsh", "simhash", "quality", "decontaminate",
    "token_pack", "sim_topk", "semdedup")
  /** Layers that time is split over, plus the uncovered driver gap. */
  val Layers: Seq[String] = Attribution.Priority :+ "driver"

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks; 0 for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** Geometric mean over op names of each name's latency percentile: a
    * percentile over the pooled mix would sit on the boundary between two
    * op types whenever one type's share of the mix is near 1 - p, and
    * jump between them from run to run. */
  def perOpType(recs: Seq[Rec], p: Double): Double = {
    val logs = recs.groupBy(_.name).values.map(v => math.log(percentile(v.map(_.ms), p)))
    math.exp(logs.sum / logs.size)
  }

  private def toEpochMs(nano: Long): Double = (nano - Trace.epochToNano) / 1e6

  def apply(recs: Seq[Rec], passes: Seq[PassRec], setups: Seq[Double],
            storageAt: (Long, Long, Long), stats: Stats, tracer: Tracer, pins: Pins,
            wl: Workload): Metrics = {
    val measured = recs.filter(_.phase == "measure")
    val mPasses = passes.filter(_.phase == "measure")
    val (peakBytes, stored, live) = storageAt
    val windowS = mPasses.map(p => (p.t1 - p.t0) / 1e9).sum
    val endToEnd = Seq(
      "setup_s" -> median(setups),
      "pass_s" -> median(mPasses.map(p => (p.t1 - p.t0) / 1e9)),
      "ops_per_s" -> measured.size / windowS,
      "op_p50_ms" -> perOpType(measured, 0.5),
      "storage_peak_mb" -> peakBytes / 1e6,
      "bytes_stored_per_live_byte" -> stored.toDouble / live)

    def cls(c: String) = measured.filter(_.cls == c).map(_.ms)
    val detail = Seq(
      "point_p50_ms" -> percentile(cls("point"), 0.5),
      "point_p90_ms" -> percentile(cls("point"), 0.9),
      "expand_p50_ms" -> percentile(cls("expand"), 0.5),
      "expand_p90_ms" -> percentile(cls("expand"), 0.9),
      "write_p50_ms" -> percentile(cls("write"), 0.5),
      "write_p90_ms" -> percentile(cls("write"), 0.9),
      "compact_s" -> median(cls("compact")) / 1000.0,
      "measured_ops" -> measured.size.toDouble,
      "measured_passes" -> mPasses.size.toDouble
    ).filter { case (k, v) => v > 0 || k.startsWith("measured") }

    val traced = recs.filter(_.phase == "traced")
    if (traced.isEmpty) return Metrics(endToEnd, detail, Nil, Nil)

    // catalyst phases, matched to the op running when planning ended
    val ids = traced.map(_.id).toSet
    val plans = tracer.plans.done.asScala.toSeq.flatMap { d =>
      traced.find(r => toEpochMs(r.t0) - 1 <= d.atMs && d.atMs <= toEpochMs(r.t1) + 1)
        .map(r => (r.id, d))
    }
    val phaseSpans = plans.flatMap { case (op, d) =>
      d.phases.map { case (n, s, e) =>
        Span(-1, s"catalyst.$n", "catalyst", Trace.fromEpochMs(s), Trace.fromEpochMs(e), -1, op)
      }
    }
    val spans = Trace.allSpans.filter(s => ids(s.op)) ++ phaseSpans
    val byOp = spans.groupBy(_.op)
    val n = traced.size.toDouble
    def spanMs(p: Span => Boolean) = spans.filter(p).map(s => (s.end - s.start) / 1e6).sum / n
    def named(name: String) = spanMs(_.name == name)
    val totals = traced.map(r => Option(tracer.exec.totals.get(r.id)).getOrElse(new ExecTotals))
    def exec(f: ExecTotals => Double) = totals.map(f).sum / n
    val jobUnion = traced.map { r =>
      Attribution.union(r.t0, r.t1, byOp.getOrElse(r.id, Nil).filter(_.layer == "exec")
        .map(s => (s.start, s.end))) / 1e6
    }
    val excl = traced.map(r => Attribution.exclusive(r.t0, r.t1, byOp.getOrElse(r.id, Nil)))
    val wall = traced.map(r => (r.t1 - r.t0).toDouble).sum
    val scanRows = plans.map(_._2.scanRows).sum
    val kept = plans.map(_._2.keptRows).sum
    def opMedianS(layer: String, op: String) =
      median(spans.filter(_.name == s"$layer.$op").map(s => (s.end - s.start) / 1e9))
    def rowsPerS(fn: String, rows: Long) = {
      val s = opMedianS("functions", fn)
      if (s > 0) rows / s else 0.0
    }
    def statMedian(k: String) = median(stats.samples.getOrElse(k, Vector.empty))
    val untracedByName = measured.groupBy(_.name).map { case (k, v) => k -> median(v.map(_.ms)) }
    val tracedByName = traced.groupBy(_.name).map { case (k, v) => k -> median(v.map(_.ms)) }
    val common = tracedByName.keySet.intersect(untracedByName.keySet).toSeq
    val overhead =
      if (common.isEmpty) 0.0
      else common.map(tracedByName).sum / common.map(untracedByName).sum - 1.0
    val (docs, vecs) = wl match {
      case p: LlmPipeline => (p.Docs, p.Vecs)
      case _ => (0L, 0L)
    }

    val perLayer = Seq(
      "meta.load_graph_ms" -> named("meta.load_graph"),
      "meta.offset_pair_ms" -> named("meta.offset_pair"),
      "meta.vertex_count_ms" -> named("meta.vertex_count"),
      "catalog.load_table_ms" -> named("catalog.loadTable"),
      "catalyst.analysis_ms" -> named("catalyst.analysis"),
      "catalyst.optimization_ms" -> named("catalyst.optimization"),
      "catalyst.planning_ms" -> named("catalyst.planning"),
      "connector.plan_ms" -> spanMs(_.layer == "connector"),
      "connector.partitions" -> traced.map(r => Trace.counter(r.id, "partitions")).sum / n,
      "connector.rows_read_per_row_returned" ->
        (if (kept > 0) scanRows.toDouble / kept else 0.0),
      "connector.decode_ms" -> traced.map(r => Trace.counter(r.id, "decode_ns")).sum / 1e6 / n,
      "connector.input_bytes" -> exec(_.inputBytes.toDouble),
      "exec.jobs" -> exec(_.jobs.toDouble),
      "exec.stages" -> exec(_.stages.toDouble),
      "exec.tasks" -> exec(_.tasks.toDouble),
      "exec.job_ms" -> jobUnion.sum / n,
      "exec.scheduler_delay_ms" -> exec(_.schedulerDelayMs.toDouble),
      "driver.gap_ms" -> traced.zip(jobUnion).map { case (r, j) => r.ms - j }.sum / n,
      "exec.task_run_ms" -> exec(_.taskRunMs.toDouble),
      "exec.task_cpu_ms" -> exec(_.taskCpuNs / 1e6),
      "exec.shuffle_read_bytes" -> exec(_.shuffleRead.toDouble),
      "exec.shuffle_write_bytes" -> exec(_.shuffleWrite.toDouble),
      "exec.spill_bytes" -> exec(_.spill.toDouble),
      "exec.gc_ms" -> exec(_.gcMs.toDouble),
      "pins.peak_bytes" -> pins.peaks._1.toDouble,
      "pins.leftover_bytes" -> traced.map(_.leftover.toDouble).max
    ) ++ GraphOpNames.map(o => s"graph.op_s.$o" -> opMedianS("graph", o)) ++
      OperatorNames.map(o => s"operators.op_s.$o" -> opMedianS("operators", o)) ++ Seq(
      "functions.minhash_rows_per_s" -> rowsPerS("minhash_sig", docs),
      "functions.cosine_rows_per_s" -> rowsPerS("cosine", vecs),
      "writer.bytes_written_per_delta_byte" -> statMedian("writer.bytes_written_per_delta_byte"),
      "writer.files_per_commit" -> statMedian("writer.files_per_commit"),
      "writer.compact_bytes_rewritten" -> statMedian("writer.compact_bytes_rewritten"),
      "writer.pending_deltas_at_read" ->
        stats.samples.get("writer.pending_deltas_at_read")
          .map(v => v.sum / v.size).getOrElse(0.0)
    ) ++ Layers.map(l => s"share.$l" -> excl.map(_.getOrElse(l, 0L)).sum / wall) ++ Seq(
      "trace.overhead_share" -> overhead,
      "trace.ops" -> n
    )
    Metrics(endToEnd, detail, perLayer, spans.sortBy(_.start))
  }
}
