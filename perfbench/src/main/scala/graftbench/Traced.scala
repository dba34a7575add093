package graftbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.util

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.GraphArCatalog
import graft.sources.graphar.GraphArTable

/** Timing proxies around the connector's DSv2 objects. Each proxy
  * implements every interface its target implements, so Spark's
  * pushdown and planning see exactly the connector's capabilities; the
  * objects a call returns (scan builder → scan → batch → reader factory →
  * reader) are wrapped in turn. Driver-side planning calls become
  * `connector` spans; reader calls on executor threads add up into the
  * op's decode counter. */
object Traced {

  private def interfacesOf(c: Class[_]): Array[Class[_]] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[Class[_]]
    var k: Class[_] = c
    def addAll(i: Class[_]): Unit = if (out.add(i)) i.getInterfaces.foreach(addAll)
    while (k != null) { k.getInterfaces.foreach(addAll); k = k.getSuperclass }
    out.toArray
  }

  def wrap[T <: AnyRef](target: T): T =
    Proxy.newProxyInstance(getClass.getClassLoader, interfacesOf(target.getClass),
      new Handler(target)).asInstanceOf[T]

  def unwrap(o: AnyRef): AnyRef = o match {
    case p if p != null && Proxy.isProxyClass(p.getClass) =>
      Proxy.getInvocationHandler(p) match {
        case h: Handler => h.target
        case _ => p
      }
    case other => other
  }

  private val Planning = Set("newScanBuilder", "build", "toBatch",
    "planInputPartitions", "createReaderFactory", "pushFilters",
    "pushPredicates", "pruneColumns", "pushAggregation", "pushLimit",
    "estimateStatistics")
  private val Reading = Set("next", "get", "createReader", "createColumnarReader")

  final class Handler(val target: AnyRef) extends InvocationHandler with Serializable {
    override def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
      val name = m.getName
      if (name == "equals" && args != null && args.length == 1)
        return java.lang.Boolean.valueOf(target.equals(unwrap(args(0))))
      val t0 = System.nanoTime()
      val r = try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
      catch { case e: InvocationTargetException => throw e.getCause }
      val t1 = System.nanoTime()
      if (Planning(name) && !target.isInstanceOf[PartitionReader[_]]) {
        Trace.record(s"connector.$name", "connector", t0, t1, Trace.currentOp)
        r match {
          case parts: Array[InputPartition] if name == "planInputPartitions" =>
            Trace.add(Trace.currentOp, "partitions", parts.length.toLong)
          case _ =>
        }
      } else if (Reading(name)) {
        val op = Trace.opOfThread
        Trace.add(op, "decode_ns", t1 - t0)
      }
      r match {
        case x @ (_: ScanBuilder | _: Scan | _: Batch | _: PartitionReaderFactory |
                  _: PartitionReader[_]) if x ne target => wrap(x.asInstanceOf[AnyRef])
        case x: Scan => wrap(x) // toBatch of a scan that is its own batch
        case other => other
      }
    }
  }
}

/** Session extension that, while tracing is on, wraps every GraphAr table
  * an analyzed plan reads in the proxies of [[Traced]]. It covers every
  * path into the connector alike: SQL through the catalog, the table
  * functions, and `spark.read.format("graphar")` inside the graph API and
  * the mutation log. With tracing off the rule returns the plan as is. */
class TraceExtension extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectPostHocResolutionRule(_ => TraceGraphArReads)
}

object TraceGraphArReads extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!Trace.on) plan
    else plan.transform {
      // a proxied table is no GraphArTable, so no table is wrapped twice
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraphArTable] =>
        r.copy(table = Traced.wrap(r.table))
    }
}

/** [[GraphArCatalog]] with every `loadTable` recorded as a `catalog`
  * span ([[TraceExtension]] wraps the tables it returns). */
class TracedCatalog extends TableCatalog with SupportsNamespaces {
  private val d = new GraphArCatalog

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    d.initialize(name, options)
  override def name(): String = d.name()

  override def loadTable(ident: Identifier): Table =
    Trace.span("catalog", "catalog.loadTable")(d.loadTable(ident))
  override def listTables(namespace: Array[String]): Array[Identifier] =
    d.listTables(namespace)
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    d.createTable(ident, schema, partitions, properties)
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    d.alterTable(ident, changes: _*)
  override def dropTable(ident: Identifier): Boolean = d.dropTable(ident)
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    d.renameTable(oldIdent, newIdent)

  override def listNamespaces(): Array[Array[String]] = d.listNamespaces()
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    d.listNamespaces(namespace)
  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    d.loadNamespaceMetadata(namespace)
  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit =
    d.createNamespace(namespace, metadata)
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    d.alterNamespace(namespace, changes: _*)
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    d.dropNamespace(namespace, cascade)
}
