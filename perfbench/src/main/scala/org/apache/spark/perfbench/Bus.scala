package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the listener bus, which Spark keeps package-private, so the
  * traced run can wait until every job, stage and task event of a phase
  * has been delivered before it reads the counters.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
