package org.apache.spark

/** Access to the private[spark] listener bus, so the benchmark can wait
  * until every posted event has reached its listener before it reads
  * what the listener collected. Kept in the benchmark's own sources so
  * the benchmark does not depend on the program's developer tools. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
