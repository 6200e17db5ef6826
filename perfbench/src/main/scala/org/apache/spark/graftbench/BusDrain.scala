package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so counters
  * read after a traced call include all of that call's events. The bus is
  * package-private to Spark, hence this object's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
