package org.apache.spark

/** Access to the private[spark] listener bus, so the benchmark can wait
  * until every posted listener event has been delivered before it reads
  * what its listeners recorded. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
