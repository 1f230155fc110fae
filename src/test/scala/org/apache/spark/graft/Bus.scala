package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private: a test
  * that counts the jobs of an action must wait until every job event has
  * reached its listener before it reads the count. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
