package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private: a spec
  * drains it before reading what its listener recorded. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
