package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block launches from the calling thread: a fresh job
  * group tags them, a listener counts the job starts in that group, and
  * the listener bus is drained before the listener is added and before
  * it is read. */
object Jobs {
  def launchedBy[T](spark: SparkSession)(f: => T): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    org.apache.spark.graftspec.Bus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try f finally {
      sc.clearJobGroup()
      org.apache.spark.graftspec.Bus.drain(sc)
      sc.removeSparkListener(listener)
    }
    n.get()
  }
}
