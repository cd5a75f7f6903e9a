package org.apache.spark

/** Blocks until every posted listener event has been delivered, so a
  * listener's counts are complete when read. `SparkContext.listenerBus` is
  * package-private, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
