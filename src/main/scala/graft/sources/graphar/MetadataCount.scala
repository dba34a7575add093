package graft.sources.graphar

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** A scan whose whole answer is a `count(*)` it already knows at
  * planning time: the count the connector fully pushed, read from the
  * count file or from two offset entries. `None` for every other scan. */
trait PushedCount {
  def pushedCount: Option[Long]
}

/** Answers a fully pushed `count(*)` from metadata, with no Spark job:
  * the scan, with the alias `Project` the aggregate pushdown leaves
  * above it, is planned as one `LocalTableScan` row, which `collect()`
  * and `Dataset.count()` read on the driver. Spark's own
  * `OptimizeMetadataOnlyQuery` answers partition-column queries from
  * metadata the same way.
  *
  * A planner strategy, injected by
  * [[graft.graph.GraftSparkSessionExtension]]: in Spark 4.1.2 every
  * optimizer rule a session extension injects runs before
  * `V2ScanRelationPushDown` builds the scan, so the planner is the
  * first to see the pushed count. It matches the [[PushedCount]] trait,
  * not the concrete scan, so a proxy that implements the scan's
  * interfaces takes the same path. A session without the extension
  * still gets the answer, through the scan's one-row `CountPartition`
  * job.
  */
object MetadataCount extends SparkStrategy {
  // a constant-time match: every strategy sees every plan node
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Project(projects, r @ DataSourceV2ScanRelation(_, c: PushedCount, Seq(_), _, _)) =>
      c.pushedCount.toSeq.map { n =>
        val row = UnsafeProjection.create(projects, r.output).apply(InternalRow(n)).copy()
        LocalTableScanExec(projects.map(_.toAttribute), Seq(row), None)
      }
    case _ => Nil
  }
}
