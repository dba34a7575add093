package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.BlockId
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of an op. Times are `System.nanoTime` values;
  * `parent` is the enclosing span's id (-1 at the op root). */
final case class Span(id: Int, name: String, layer: String, start: Long,
                      end: Long, parent: Int, op: Int)

/** In-memory span recorder. Spans are kept in memory while the workload
  * runs and written out once at the end; with tracing off every entry
  * point is a single volatile read. */
object Trace {
  @volatile var on: Boolean = false
  /** Id of the op the driver thread is running (-1 between ops). */
  @volatile var currentOp: Int = -1

  val OpProperty = "graftbench.op"

  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  /** Executor-side counters (decode time, rows) keyed by (op, name). */
  private val counters = new ConcurrentHashMap[(Int, String), AtomicLong]()

  /** Offset turning an epoch millisecond (listener events) into the
    * `nanoTime` domain the spans use. */
  val epochToNano: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def fromEpochMs(ms: Long): Long = ms * 1000000L + epochToNano

  /** Time `f` as a span of `layer` when tracing is on. */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!on) f else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try f finally {
        stack.set(outer)
        spans.add(Span(id, name, layer, t0, System.nanoTime(),
          outer.headOption.getOrElse(-1), currentOp))
      }
    }

  /** Record an interval measured elsewhere (listener events). */
  def record(name: String, layer: String, start: Long, end: Long, op: Int): Unit =
    spans.add(Span(ids.incrementAndGet(), name, layer, start, end, -1, op))

  /** Op id of the calling thread: the task's local property on an
    * executor thread, the current op on the driver. */
  def opOfThread: Int = {
    val tc = TaskContext.get()
    if (tc == null) currentOp
    else Option(tc.getLocalProperty(OpProperty)).map(_.toInt).getOrElse(-1)
  }

  def add(op: Int, name: String, v: Long): Unit =
    counters.computeIfAbsent((op, name), _ => new AtomicLong()).addAndGet(v)

  def counter(op: Int, name: String): Long =
    Option(counters.get((op, name))).map(_.get()).getOrElse(0L)

  def allSpans: Seq[Span] = spans.asScala.toSeq
}

/** Per-op execution totals gathered from listener events. */
final class ExecTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskRunMs = 0L; var taskCpuNs = 0L; var gcMs = 0L
  var schedulerDelayMs = 0L
  var inputBytes = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
  var spill = 0L
}

/** Spark listener attributing jobs, stages and tasks to the op whose id
  * the driver set as a local property when it launched the job. */
final class ExecListener extends SparkListener {
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val jobOp = new ConcurrentHashMap[Int, Int]()
  private val jobStartMs = new ConcurrentHashMap[Int, Long]()
  val totals = new ConcurrentHashMap[Int, ExecTotals]()

  private def of(op: Int): ExecTotals = totals.computeIfAbsent(op, _ => new ExecTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.OpProperty)))
      .map(_.toInt).getOrElse(-1)
    jobOp.put(e.jobId, op)
    jobStartMs.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageOp.put(s, op))
    of(op).synchronized { of(op).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val op = jobOp.getOrDefault(e.jobId, -1)
    val start = jobStartMs.getOrDefault(e.jobId, e.time)
    Trace.record(s"job ${e.jobId}", "exec", Trace.fromEpochMs(start),
      Trace.fromEpochMs(e.time), op)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val op = stageOp.getOrDefault(e.stageInfo.stageId, -1)
    val t = of(op)
    t.synchronized { t.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.getOrDefault(e.stageId, -1)
    val t = of(op)
    val m = e.taskMetrics
    val info = e.taskInfo
    t.synchronized {
      t.tasks += 1
      if (m != null) {
        t.taskRunMs += m.executorRunTime
        t.taskCpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.inputBytes += m.inputMetrics.bytesRead
        t.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.diskBytesSpilled
        // the time a task spent neither running nor (de)serializing:
        // launch and result-fetch overhead of the scheduler
        val overhead = info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime
        t.schedulerDelayMs += math.max(0L, overhead)
      }
    }
  }
}

/** Catalyst phase timings and connector row counts of every executed
  * query, kept with their wall-clock times so they can be matched to the
  * op running at the time. */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  final case class Done(phases: Seq[(String, Long, Long)], scanRows: Long,
                        keptRows: Long, atMs: Long)
  val done = new ConcurrentLinkedQueue[Done]()

  private def isGraphAr(s: BatchScanExec): Boolean =
    s.scan.description().startsWith("GraphArScan(")

  private def rows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  /** A filter directly above a GraphAr scan (through row conversion). */
  private def scanUnder(p: SparkPlan): Option[BatchScanExec] = p match {
    case s: BatchScanExec if isGraphAr(s) => Some(s)
    case other if other.children.size == 1 &&
      other.nodeName.startsWith("ColumnarToRow") => scanUnder(other.children.head)
    case _ => None
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.toSeq.collect {
      case (name, s) if name != "parsing" => (name, s.startTimeMs, s.endTimeMs)
    }
    val plan = qe.executedPlan
    val scans = collect(plan) { case s: BatchScanExec if isGraphAr(s) => s }
    val filtered = collect(plan) { case f: FilterExec => f }
      .flatMap(f => scanUnder(f.child).map(s => (s, rows(f))))
    val filteredScans = filtered.map(_._1).toSet
    val scanRows = scans.map(rows).sum
    val kept = filtered.map(_._2).sum +
      scans.filterNot(filteredScans.contains).map(rows).sum
    // matched to its op by the end of physical planning, which runs
    // when the action starts (listener events arrive later)
    val at = phases.find(_._1 == "planning").orElse(phases.sortBy(_._3).lastOption)
    at.foreach(p => done.add(Done(phases, scanRows, kept, p._3)))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** The listeners and the storage sampler of one run. */
final class Tracer(spark: SparkSession) {
  val exec = new ExecListener
  val plans = new PlanListener

  def start(): Unit = {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(plans)
  }

  def stop(): Unit = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(plans)
  }
}

/** Block-manager storage held by cached and checkpointed RDD blocks (the
  * operators' pins). The peak is tracked from every block update, so it
  * does not depend on when anyone looked; `base` (the inputs on disk) is
  * counted with it for the storage peak. */
final class Pins(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val held = mutable.Map.empty[BlockId, Long]
  private var cur = 0L
  private var base = 0L
  private var peak = 0L
  private var peakWithBase = 0L
  sc.addSparkListener(this)

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val bytes = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      cur += bytes - held.getOrElse(b.blockId, 0L)
      if (bytes == 0L) held.remove(b.blockId) else held(b.blockId) = bytes
      observe()
    }
  }

  private def observe(): Unit = {
    peak = math.max(peak, cur)
    peakWithBase = math.max(peakWithBase, cur + base)
  }

  private def drain(): Unit = org.apache.spark.graftbench.Bus.drain(sc)

  def setBase(bytes: Long): Unit = { drain(); synchronized { base = bytes; observe() } }
  /** Start new peaks from what is held now. */
  def reset(): Unit = { drain(); synchronized { peak = cur; peakWithBase = cur + base } }
  /** (peak, peak with base) since the last reset. */
  def peaks: (Long, Long) = { drain(); synchronized { (peak, peakWithBase) } }
  /** Bytes held now, read from the block manager directly. */
  def now(): Long = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
  def close(): Unit = { drain(); sc.removeSparkListener(this) }
}

/** Splits an op's wall time over layers: each instant goes to the
  * innermost layer active at that instant (jobs over planning over
  * connector and catalog calls over the benchmark's outer API call);
  * instants covered by no span are the driver's own gap. */
object Attribution {
  /** Highest first. */
  val Priority: Seq[String] = Seq("exec", "connector", "catalog", "meta",
    "catalyst", "writer", "functions", "operators", "graph")

  def exclusive(start: Long, end: Long, spans: Seq[Span]): Map[String, Long] = {
    val rank = Priority.zipWithIndex.toMap
    val clipped = spans.flatMap { s =>
      val a = math.max(start, s.start); val b = math.min(end, s.end)
      if (b > a && rank.contains(s.layer)) Some((a, b, rank(s.layer))) else None
    }
    val edges = (clipped.flatMap(c => Seq(c._1, c._2)) ++ Seq(start, end))
      .distinct.sorted
    val out = mutable.Map.empty[String, Long].withDefaultValue(0L)
    edges.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val active = clipped.filter(c => c._1 <= a && c._2 >= b)
        val layer = if (active.isEmpty) "driver" else Priority(active.map(_._3).min)
        out(layer) += b - a
      case _ => ()
    }
    out.toMap
  }

  /** Total length of the union of intervals, clipped to [start, end]. */
  def union(start: Long, end: Long, iv: Seq[(Long, Long)]): Long = {
    val c = iv.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    c.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
