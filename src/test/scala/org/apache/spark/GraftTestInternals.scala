package org.apache.spark

/** Test access to SparkContext internals that have no public getter. */
object GraftTestInternals {

  /** Listeners attached to the context's listener bus. */
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
