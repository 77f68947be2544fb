package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The two listener-bus facts the benchmark needs that Spark keeps
  * package-private: waiting until every queued event has been delivered
  * (listener data is read only after the bus is drained), and how many
  * listeners are attached (a query that adds one is a hygiene
  * violation). */
object Internals {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
