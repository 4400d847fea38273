package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM per `sbt test` fork; the
  * session is created once and reused across suites via getOrCreate).
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.create(cores = 4)

  /** Spark jobs started while `body` runs, counted by a listener once the
    * listener bus has delivered every event. */
  def jobsOf(body: => Unit): Int = {
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    GraftSession.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; GraftSession.drain(spark); n.get }
    finally spark.sparkContext.removeSparkListener(listener)
  }
}
