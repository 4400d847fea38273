package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

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

  test("a bad SPARK_GRAFT_CPUS or SPARK_GRAFT_GC_EVERY names the variable and value") {
    for (name <- Seq("SPARK_GRAFT_CPUS", "SPARK_GRAFT_GC_EVERY"); bad <- Seq("0", "-2", "four", "")) {
      val e = intercept[IllegalArgumentException](GraftSession.envInt(name, 4, Map(name -> bad)))
      assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
    assert(GraftSession.envInt("SPARK_GRAFT_GC_EVERY", 4, Map.empty) == 4)
    assert(GraftSession.envInt("SPARK_GRAFT_CPUS", 4, Map("SPARK_GRAFT_CPUS" -> "13")) == 13)
  }
}
