package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the traced run reads complete task and stage totals at the end of each
  * timed iteration. `listenerBus` is `private[spark]`, hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
