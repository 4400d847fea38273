package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Registered listener counts, read through Spark's package-private
  * accessors: (SparkListeners on the context's bus, QueryExecutionListeners
  * on the session).
  */
object Listeners {
  def count(spark: SparkSession): (Int, Int) =
    (spark.sparkContext.listenerBus.listeners.size, spark.listenerManager.listListeners().length)
}
