package org.apache.spark

/** Waits until every posted listener event has been delivered, so a traced
  * run's job, stage and task records are complete before they are read.
  * `SparkContext.listenerBus` is package-private, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
