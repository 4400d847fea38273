package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

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
    val (r, profile) =
      QueryProfile.record(spark)(Bench.measure(spark, "", "bench_spec_sql", grouped, gc = false))
    val ids = profile.jobs.filter(_.group.exists(_.startsWith("bench_spec_sql#"))).map(_.execution)
    val seen = profile.plans.map(_._1)
    assert(r.ok && r.jobs >= 2 && ids.size == r.jobs, s"$r, job execution ids $ids")
    assert(ids.forall(_.isDefined) && ids.distinct.size == 1, ids)
    assert(seen == Seq("bench_spec_sql"), seen)
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
