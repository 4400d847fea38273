package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

/** Bench's per-query measurement and its environment parsing. */
class BenchSpec extends SparkTestBase {

  // two eager RDD actions inside the builder + the noop sink over a range
  private val threeJobs: (SparkSession, String) => DataFrame = (s, _) => {
    s.sparkContext.parallelize(1 to 100, 4).count()
    s.sparkContext.parallelize(1 to 100, 4).map(_ * 2).sum()
    s.range(10).toDF("id")
  }

  test("measure counts every job of a query, at any point of the GC cadence") {
    val counts = (1 to 20).map { i =>
      Bench.measure(spark, "", s"bench_spec_$i", threeJobs, gc = i % 4 == 0).jobs
    }
    assert(counts.forall(_ == 3), counts.mkString(","))
  }

  test("measuring the same query twice counts only each run's own jobs") {
    val counts = (1 to 2).map(_ => Bench.measure(spark, "", "bench_spec_twice", threeJobs, gc = false).jobs)
    assert(counts == Seq(3, 3), counts.mkString(","))
  }

  test("measure runs the returned frame as one SQL execution named after the query") {
    // an aggregate, so AQE submits a stage job from its own thread pool
    // beside the final job
    val grouped: (SparkSession, String) => DataFrame =
      (s, _) => s.range(1000).groupBy(col("id") % 7).count()
    val jobs = new ConcurrentLinkedQueue[Option[String]]()
    val jobListener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = Option(js.properties)
        if (p.exists(_.getProperty("spark.jobGroup.id", "").startsWith("bench_spec_sql#")))
          jobs.add(p.flatMap(x => Option(x.getProperty(SQLExecution.EXECUTION_ID_KEY))))
      }
    }
    val seen = new ConcurrentLinkedQueue[String]()
    val qeListener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(action)
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    val r = try Bench.measure(spark, "", "bench_spec_sql", grouped, gc = false)
      finally {
        GraftSession.drain(spark)
        spark.sparkContext.removeSparkListener(jobListener)
        spark.listenerManager.unregister(qeListener)
      }
    val ids = jobs.asScala.toSeq
    assert(r.ok && r.jobs >= 2 && ids.size == r.jobs, s"$r, job execution ids $ids")
    assert(ids.forall(_.isDefined) && ids.distinct.size == 1, ids)
    assert(seen.asScala.toSeq == Seq("bench_spec_sql"), seen)
  }

  test("a bad SPARK_GRAFT_CPUS or SPARK_GRAFT_GC_EVERY names the variable and value") {
    for (name <- Seq("SPARK_GRAFT_CPUS", "SPARK_GRAFT_GC_EVERY"); bad <- Seq("0", "-2", "four", "")) {
      val e = intercept[IllegalArgumentException](GraftSession.envInt(name, 4, Map(name -> bad)))
      assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
    assert(GraftSession.envInt("SPARK_GRAFT_GC_EVERY", 4, Map.empty) == 4)
    assert(GraftSession.envInt("SPARK_GRAFT_CPUS", 4, Map("SPARK_GRAFT_CPUS" -> "13")) == 13)
  }
}
