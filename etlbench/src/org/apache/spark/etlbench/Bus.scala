package org.apache.spark.etlbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private: a trace
  * reader must wait until every task-end event of the jobs it just ran has
  * reached the listener before it sums their metrics. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
