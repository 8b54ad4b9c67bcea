package org.apache.spark

/** Test-only: waits until Spark's listener bus has delivered every queued
  * event, so a listener's counts are complete when an assertion reads
  * them. `listenerBus` is `private[spark]`, so this one-liner lives in the
  * spark package.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
