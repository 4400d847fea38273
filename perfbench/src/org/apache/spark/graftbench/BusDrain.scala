package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Bounded wait on Spark's asynchronous listener bus. `listenerBus` is
  * package-private to `org.apache.spark`, which is why this one-liner lives
  * in that package: counters fed by listener events are read only after
  * every event posted so far has been delivered.
  */
object BusDrain {
  /** Blocks until the bus is empty; throws `TimeoutException` after `timeoutMs`. */
  def drain(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
