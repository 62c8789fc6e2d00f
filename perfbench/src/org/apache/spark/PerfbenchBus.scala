package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so an operation's jobs, stages and streaming progress are
  * all recorded before the next operation starts. The listener bus is
  * `private[spark]`, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
