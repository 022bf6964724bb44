package org.apache.spark

/** Reaches the one `private[spark]` hook the benchmark needs: waiting until
  * the listener bus has delivered every event posted so far, so counters
  * read after an action include all of that action's tasks. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
