package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-module query registries. Every entry in [[queries]]
  * that has a matching key in [[oracleSql]] is hash-compared against
  * DuckDB running the oracle SQL on the same parquet tables (sf0.01);
  * entries without an oracle get a weaker rows-only check.
  */
object SparkEntry {

  private def modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (operators.Relational.queries, operators.Relational.oracle),
      (graph.GraphQueries.queries, graph.GraphQueries.oracle),
      (sources.graphar.GraphArQueries.queries, sources.graphar.GraphArQueries.oracle),
      (operators.Dedup.queries, operators.Dedup.oracle),
      (operators.Similarity.queries, operators.Similarity.oracle),
      (operators.TextAnalysis.queries, operators.TextAnalysis.oracle),
      (operators.Retrieval.queries, operators.Retrieval.oracle),
      (operators.Multimodal.queries, operators.Multimodal.oracle),
      (operators.Pipeline.queries, operators.Pipeline.oracle),
      (operators.AsOf.queries, operators.AsOf.oracle),
      (operators.Sketches.queries, operators.Sketches.oracle),
      (operators.Layout.queries, operators.Layout.oracle),
      (streaming.StreamingQueries.queries, streaming.StreamingQueries.oracle)
    )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.iterator.map(_._2).reduce(_ ++ _)

  /** Fails on any name that is not a key of [[queries]]; the entry
    * points call it while parsing, before a session is built. */
  def requireKnown(names: Seq[String]): Unit = {
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
  }
}
