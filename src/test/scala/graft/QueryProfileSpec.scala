package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Listeners

/** The one profiling harness: what it counts, and that it cleans up. */
class QueryProfileSpec extends SparkTestBase {

  test("a broadcast join and an aggregate: the group's jobs match the status tracker, shuffle bytes the stages") {
    val sc = spark.sparkContext
    val written, read = new AtomicLong()
    val stages = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        written.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        read.addAndGet(e.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
      }
    }
    val group = "query_profile_spec"
    GraftSession.drain(spark)
    sc.addSparkListener(stages)
    val (rows, profile) =
      try QueryProfile.record(spark) {
        sc.setJobGroup(group, group, interruptOnCancel = false)
        try {
          val facts = spark.range(20000).select(col("id"), (col("id") % 50).as("k"))
          val dims = spark.range(50).select(col("id").as("k"), (col("id") % 5).as("band"))
          // AQE runs the broadcast and the aggregate's map stage as jobs of
          // their own, submitted from its thread pools
          facts.join(broadcast(dims), "k").groupBy("band").agg(sum("id")).collect()
        } finally sc.clearJobGroup()
      } finally sc.removeSparkListener(stages)
    assert(rows.length == 5)
    val mine = profile.ofGroup(group)
    assert(mine.jobs.size >= 2 && mine.jobs.size == profile.jobs.size, profile.jobs)
    assert(mine.jobs.size == sc.statusTracker.getJobIdsForGroup(group).length)
    assert(mine.jobs.forall(j => j.action.exists(_.startsWith("collect at ")) && j.endMs >= j.startMs),
      profile.jobs)
    assert(profile.shuffleWrite > 0 && profile.shuffleRead > 0)
    assert(profile.shuffleWrite == written.get && profile.shuffleRead == read.get,
      s"profile ${profile.shuffleWrite}/${profile.shuffleRead}, stages ${written.get}/${read.get}")
    assert(profile.stagesRun >= 2 && profile.tasks >= profile.stagesRun)
    assert(profile.jobMs <= profile.jobs.map(j => j.endMs - j.startMs).sum)
    assert(profile.planMs >= 0 && profile.compiles >= 0)
  }

  test("every action appears in plans, a localCheckpoint included") {
    val (_, profile) = QueryProfile.record(spark) {
      val df = spark.range(100).groupBy(col("id") % 3).count().localCheckpoint()
      df.collect()
      df.count()
    }
    assert(profile.plans.map(_._1) == Seq("localCheckpoint", "collect", "count"), profile.plans)
  }

  test("a body that throws leaves neither listener registered") {
    val before = Listeners.count(spark)
    var inside = (0, 0)
    val e = intercept[IllegalStateException](QueryProfile.record(spark) {
      inside = Listeners.count(spark)
      throw new IllegalStateException("query_profile_spec")
    })
    assert(e.getMessage == "query_profile_spec")
    assert(inside == ((before._1 + 1, before._2 + 1)))
    assert(Listeners.count(spark) == before)
  }

  test("job-covered time is the union of the job intervals") {
    def job(start: Long, end: Long) =
      QueryProfile.Job(0, None, None, None, start, end, Nil, 0, 0, 0L, 0L, 0L, 0L)
    val p = QueryProfile(Seq(job(10, 20), job(15, 30), job(40, 45), job(41, 42), job(50, -1)),
      Nil, 0L, 0L)
    assert(p.jobMs == 25)
  }
}
