package graft

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did while one piece of driver code ran (see [[QueryProfile.record]]).
  *
  * @param jobs     every job started during the run, in start order
  * @param plans    `(action, QueryExecution)` of every Dataset action that
  *                 succeeded, in completion order; executed plans keep their
  *                 broadcasts and checkpoint RDDs alive, so a profile that
  *                 outlives its query should drop them
  * @param planMs   Catalyst analysis, optimisation and planning ms summed over
  *                 every action, failed ones included (`qe.tracker` phases)
  * @param compiles Janino classes compiled, in any thread
  */
final case class QueryProfile(
    jobs: Seq[QueryProfile.Job],
    plans: Seq[(String, QueryExecution)],
    planMs: Long,
    compiles: Long) {

  /** This profile restricted to the jobs of job group `group`. */
  def ofGroup(group: String): QueryProfile = copy(jobs = jobs.filter(_.group.contains(group)))

  def stagesRun: Int = jobs.map(_.stagesRun).sum
  def tasks: Int = jobs.map(_.tasks).sum
  def deserMs: Long = jobs.map(_.deserMs).sum
  def runMs: Long = jobs.map(_.runMs).sum
  def shuffleWrite: Long = jobs.map(_.shuffleWrite).sum
  def shuffleRead: Long = jobs.map(_.shuffleRead).sum

  /** Milliseconds during which at least one job ran: the length of the
    * union of the jobs' `[start, end]` intervals.
    */
  def jobMs: Long =
    jobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
        if (e <= reach) (sum, reach) else (sum + e - math.max(s, reach), e)
      }._1
}

object QueryProfile {

  /** One stage of a job as submitted (skipped stages included). */
  final case class Stage(name: String, tasks: Int)

  /** One Spark job.
    *
    * @param action    `<method> at <File>.scala:<line>` of the Dataset action
    *                  whose SQL execution ran the job (an AQE stage job's own
    *                  call site is a thread-pool frame)
    * @param endMs     -1 when no end event arrived
    * @param stagesRun stages that completed, so skipped stages are not counted
    * @param tasks     tasks that ended
    * @param deserMs   summed task `executorDeserializeTime`; run time excludes
    *                  it, so a task payload that is slow to rebuild shows here
    * @param runMs     summed task `executorRunTime`
    */
  final case class Job(id: Int, group: Option[String], execution: Option[Long],
      action: Option[String], startMs: Long, endMs: Long, stages: Seq[Stage],
      stagesRun: Int, tasks: Int, deserMs: Long, runMs: Long,
      shuffleWrite: Long, shuffleRead: Long) {
    def sec: Double = if (endMs < 0) -1.0 else (endMs - startMs) / 1e3
  }

  /** Runs `body` and profiles it. The listener bus is drained before the
    * listeners are registered and again before the profile is read, so the
    * profile holds every event `body` caused and none from before it. Both
    * listeners are unregistered even when `body` throws.
    */
  def record[A](spark: SparkSession)(body: => A): (A, QueryProfile) = {
    GraftSession.drain(spark)
    val recorder = new Recorder
    spark.sparkContext.addSparkListener(recorder)
    try {
      spark.listenerManager.register(recorder)
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val result = body
      GraftSession.drain(spark)
      (result, recorder.profile(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0))
    } finally {
      spark.sparkContext.removeSparkListener(recorder)
      spark.listenerManager.unregister(recorder)
    }
  }

  /** `<method> at <file>:<line>`, Spark's short call-site form, from the long
    * form (the last Spark frame, then the first user frame) that a SQL
    * execution's start event carries as its details.
    */
  def callSite(details: String): Option[String] = {
    val Frame = """(.+)\.([^.]+)\((.*)\)""".r
    details.linesIterator.take(2).toSeq match {
      case Seq(Frame(cls, method, _), Frame(_, _, at)) =>
        Some(s"${if (method == "<init>") cls.split('.').last else method} at $at")
      case _ => None
    }
  }

  /** Listener-bus callbacks arrive on the bus thread; `profile` is read on
    * the caller's thread after a drain, hence the one lock.
    */
  private final class Recorder extends SparkListener with QueryExecutionListener {
    private val jobs = mutable.LinkedHashMap[Int, Job]()
    private val jobOfStage = mutable.HashMap[Int, Int]()
    private val actions = mutable.HashMap[Long, String]()
    private val plans = mutable.ArrayBuffer[(String, QueryExecution)]()
    private var planMs = 0L

    private def update(stageId: Int)(f: Job => Job): Unit =
      jobOfStage.get(stageId).foreach(id => jobs(id) = f(jobs(id)))

    // a SQL execution's start event is posted before any of its jobs start
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        callSite(s.details).foreach(a => synchronized(actions(s.executionId) = a))
      case _ =>
    }
    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      val props = Option(js.properties)
      def prop(key: String) = props.flatMap(p => Option(p.getProperty(key)))
      val execution = prop(SQLExecution.EXECUTION_ID_KEY).map(_.toLong)
      jobs(js.jobId) = Job(js.jobId, prop("spark.jobGroup.id"), execution,
        execution.flatMap(actions.get), js.time, -1L,
        js.stageInfos.map(si => Stage(si.name, si.numTasks)), 0, 0, 0L, 0L, 0L, 0L)
      // a stage runs in the first job that holds it; later jobs skip it
      js.stageIds.foreach(jobOfStage.getOrElseUpdate(_, js.jobId))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(je.jobId).foreach(j => jobs(je.jobId) = j.copy(endMs = je.time))
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      update(sc.stageInfo.stageId)(j => j.copy(stagesRun = j.stagesRun + 1))
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
      val m = te.taskMetrics
      update(te.stageId) { j =>
        if (m == null) j.copy(tasks = j.tasks + 1)
        else j.copy(tasks = j.tasks + 1,
          deserMs = j.deserMs + m.executorDeserializeTime, runMs = j.runMs + m.executorRunTime,
          shuffleWrite = j.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
          shuffleRead = j.shuffleRead + m.shuffleReadMetrics.totalBytesRead)
      }
    }

    private def phasesMs(qe: QueryExecution): Long =
      qe.tracker.phases.values.map(_.durationMs).sum
    override def onSuccess(action: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized { plans += action -> qe; planMs += phasesMs(qe) }
    override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit =
      synchronized { planMs += phasesMs(qe) }

    def profile(compiles: Long): QueryProfile =
      synchronized(QueryProfile(jobs.values.toSeq, plans.toSeq, planMs, compiles))
  }
}
