package org.apache.spark

/** The one `private[spark]` hook the benchmark needs: block until every
  * listener event posted so far has been delivered, so the traced
  * window's job/stage/task records are complete before they are read.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
