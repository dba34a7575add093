package graft

import org.apache.spark.sql.SparkSession

/** The one session protocol and the one scale timing loop every entry
  * point (`Bench`, `Verify`, `Plans`, `ScaleBench`) runs under, so a
  * number from one main is comparable with a number from another.
  *
  * Session: `local[n]` with `n` from `SPARK_GRAFT_CPUS`, else the JVM's
  * available processors; `n` shuffle partitions, AQE on, UTC session
  * time zone, UI off, a recursive-CTE row limit of 10⁸ (the 10⁶
  * default trips `q30_recursive` at sf0.1), and
  * `graft.graph.GraftSparkSessionExtension` installed, as in perfbench.
  */
object Harness {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Extra runtime confs from `SWEEP_CONF="k=v,k=v"`, for A/B runs. */
  def envConf: Seq[(String, String)] =
    sys.env.getOrElse("SWEEP_CONF", "").split(',').toSeq
      .filter(_.contains('=')).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }

  def session(cores: Int = cpus, logLevel: String = "ERROR",
              conf: Seq[(String, String)] = Nil): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.cteRecursionRowLimit", "100000000")
      .config("spark.sql.extensions", "graft.graph.GraftSparkSessionExtension")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }

  /** The `only=<label>` argument: run just that label (the fresh-JVM
    * isolation mode the `scripts/<rung>_isolated.sh` drivers use). */
  def only(args: Seq[String]): Option[String] =
    args.collectFirst { case a if a.startsWith("only=") => a.stripPrefix("only=") }

  /** Scale timing loop: `time(label)(f)` runs `f` `reps` times and
    * prints `<prefix> <label> best=… all=…`; `once` is the single-shot
    * form for state-mutating ops (`all=single`). With `only` set, every
    * other label is skipped without evaluating its body. */
  final class Timer(prefix: String, reps: Int, only: Option[String],
                    out: String => Unit = println(_)) {
    private def runs(label: String): Boolean = only.forall(_ == label)

    def apply(label: String)(f: => Any): Unit =
      if (runs(label)) {
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }
        out(f"$prefix $label best=${times.min}%.3f " +
          f"all=${times.map(t => f"$t%.3f").mkString(",")}")
      }

    def once(label: String)(f: => Any): Unit =
      if (runs(label)) {
        val t0 = System.nanoTime(); f
        out(f"$prefix $label best=${(System.nanoTime() - t0) / 1e9}%.3f all=single")
      }
  }
}
