package graft

import org.apache.spark.sql.functions._

/** The job-count plan-regression gate: comparator semantics, artifact
  * parsing, and a live deliberately-regressed plan being caught.
  */
class JobGateSpec extends SparkTestBase {

  test("comparator: growth fails, shrinkage and new queries pass") {
    val recorded = Map("q_a" -> 3, "q_b" -> 5)
    assert(JobGate.compare(recorded, Map("q_a" -> 3, "q_b" -> 5)).isEmpty)
    assert(JobGate.compare(recorded, Map("q_a" -> 2)).isEmpty, "improvement passes")
    assert(JobGate.compare(recorded, Map("q_new" -> 9)).isEmpty, "new query passes")
    val v = JobGate.compare(recorded, Map("q_a" -> 4, "q_b" -> 5))
    assert(v == Seq("q_a: 4 jobs > recorded 3"))
  }

  test("parses the bench_detail artifact format") {
    val json = """{"total":12.345,"sf":"/x","queries":{"q_a":{"sec":1.100,"jobs":3},"q_b":{"sec":-0.500,"jobs":7}}}"""
    assert(JobGate.parseJobs(json) == Map("q_a" -> 3, "q_b" -> 7))
  }

  test("parses the pretty-printed baseline format (the silent no-op trap)") {
    // JOBS_BASELINE.json has shipped pretty-printed; the original
    // compact-only regex parsed ZERO entries from it, so the gate
    // vacuously passed every run. Both formats must parse identically.
    val pretty =
      """{
        | "total": 12.345,
        | "queries": {
        |  "q_a": {
        |   "sec": 1.1,
        |   "jobs": 3
        |  },
        |  "q_b": { "sec": 2.0, "jobs": 7 }
        | }
        |}""".stripMargin
    assert(JobGate.parseJobs(pretty) == Map("q_a" -> 3, "q_b" -> 7))
  }

  test("parses rows that carry profile fields after jobs") {
    val wide = """{"total":3.1,"sf":"/x","queries":{""" +
      """"q_a":{"sec":1.100,"jobs":3,"spark.stages":4,"spark.tasks":16,"spark.job_s":0.912,""" +
      """"codegen.compiles":7,"catalyst.plan_ms":41,"spark.task_deser_s":0.020,""" +
      """"spark.task_busy_s":1.480,"spark.shuffle_write_mb":0.012345,"spark.shuffle_read_mb":0.012345},""" +
      """"q_b":{"sec":-0.500,"jobs":7,"spark.stages":0,"spark.tasks":0,"spark.job_s":0.000,""" +
      """"codegen.compiles":0,"catalyst.plan_ms":0,"spark.task_deser_s":0.000,""" +
      """"spark.task_busy_s":0.000,"spark.shuffle_write_mb":0.000000,"spark.shuffle_read_mb":0.000000}}}"""
    assert(JobGate.parseJobs(wide) == Map("q_a" -> 3, "q_b" -> 7))
  }

  test("loadBaseline is loud on a zero-entry parse") {
    val f = java.nio.file.Files.createTempFile("jobs", ".json")
    try {
      java.nio.file.Files.writeString(f, """{"queries":{}}""")
      intercept[IllegalArgumentException](JobGate.loadBaseline(f.toString))
    } finally java.nio.file.Files.delete(f)
  }

  test("a deliberately-regressed plan (extra driver action) is caught live") {
    val df = spark.range(1000).toDF("id")
    val good = jobsOf {
      df.groupBy(col("id") % 7).count().queryExecution.toRdd.foreach(_ => ())
    }
    val regressed = jobsOf {
      // the regression: a driver-side count() materializes the aggregate a
      // second time before the real sink — an extra job in the same "query"
      val agg = df.groupBy(col("id") % 7).count()
      agg.count()
      agg.queryExecution.toRdd.foreach(_ => ())
    }
    assert(regressed > good, s"fixture: regressed=$regressed good=$good")
    val violations = JobGate.compare(
      recorded = Map("jg" -> good), actual = Map("jg" -> regressed))
    assert(violations.nonEmpty && violations.head.startsWith("jg:"))
  }
}
