package org.apache.spark

/** Accessor for the private[spark] listener bus, used only by the
  * `graft.Profile` diagnostic main and by specs (never by any query or
  * operator): listener events are delivered asynchronously, so a
  * per-query byte attribution must drain the bus between queries or a
  * slow delivery bleeds one query's shuffle bytes into the next row of
  * the report, and a spec that counts execution events must drain it
  * before reading its counters. */
object GraftMetricsHook {
  def drainListenerBus(sc: SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
