package org.apache.spark.graft

import org.apache.spark.SparkContext

/** `listenerBus` is package-private to `org.apache.spark`, hence this
  * one-line accessor in that package (used through `graft.GraftSession.drain`).
  */
object BusDrain {
  /** Blocks until every event posted so far is delivered; throws
    * `TimeoutException` after `timeoutMs`. */
  def drain(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
