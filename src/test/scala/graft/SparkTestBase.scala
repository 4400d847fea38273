package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM per `sbt test` fork; the
  * session is created once and reused across suites via getOrCreate).
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.create(cores = 4)

  /** Spark jobs started while `body` runs (see [[QueryProfile.record]]). */
  def jobsOf(body: => Unit): Int = QueryProfile.record(spark)(body)._2.jobs.size
}
