package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Bench, GraftSession, SparkEntry}

/** Inspects registry queries on a `GraftSession` (`SPARK_GRAFT_CPUS` cores,
  * default 4, as Bench).
  *
  * Usage: tools/run_main.sh graft.tools.Probe <mode> <sfDir> <q1,q2,...|all> [outDir] [suffix]
  *
  *  - `time`: Bench's warm-up, then Bench's per-query measurement; one
  *    `TIMED <q> <sec> s jobs=<n> compiles=<n> deser_ms=<n>` line per
  *    query, where `compiles` counts the Janino classes the measured run
  *    compiled (a warm rerun compiles none while its classes fit Spark's
  *    codegen cache, so a growing count flags a grown working set) and
  *    `deser_ms` sums its tasks' deserialization time.
  *  - `jobs`: one warm pass, then the measured pass with one line per Spark
  *    job (duration, its tasks' summed deserialize and run milliseconds,
  *    stage count, the `[action at File.scala:line]` of its SQL execution,
  *    stage names and task counts) — which actions make up a query's job
  *    count, and where its task time went.
  *  - `plan`: `explain("formatted")` of the query's final plan, to
  *    `<outDir>/<q><suffix>.txt` (the evidence-trail convention is
  *    `_before` / `_after`, as in plans/r17) or to stdout without outDir.
  *    Building the DataFrame runs any eager staging a query performs, but
  *    the final plan is never executed.
  *  - `trace`: the EXECUTED plan of every action the query runs, its
  *    `localCheckpoint`s and collects included (plan sees only the final
  *    plan, which for the staged families is a checkpoint read), one
  *    `<q>_exec<i>_<action><suffix>.txt` each (plans/r18), or to stdout.
  *  - `windows`: flags queries whose returned frame's optimized plan holds
  *    an UNPARTITIONED window (a single-partition WindowExec at runtime —
  *    the scale defect VERDICT r3 item 5 tracks). Windows inside sub-jobs a
  *    builder runs eagerly are not visible here; the per-operator specs
  *    cover those.
  *
  * Exits non-zero when any requested query is unknown or fails, so an
  * evidence sweep cannot silently omit a query.
  */
object Probe {

  private val modes = Seq("time", "jobs", "plan", "trace", "windows")
  private val usage =
    s"usage: Probe <${modes.mkString("|")}> <sfDir> <q1,q2,...|all> [outDir] [suffix]"

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.create()
    val code = try run(spark, args.toSeq) finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Runs one mode on `spark` and returns the exit code: 0 when every
    * requested query was found and probed, 1 otherwise, 2 on bad usage.
    * Reports go to `Console.out`, diagnostics to `Console.err`.
    */
  def run(spark: SparkSession, args: Seq[String]): Int = {
    if (args.length < 3 || !modes.contains(args(0))) {
      Console.err.println(usage)
      return 2
    }
    val Seq(mode, sfDir, query) = args.take(3)
    val outDir = args.lift(3).map { d => val f = new java.io.File(d); f.mkdirs(); f }
    val suffix = args.lift(4).getOrElse("")
    val registry = SparkEntry.queries
    val names =
      if (query == "all") registry.keys.toSeq.sorted else query.split(",").toSeq
    val (known, unknown) = names.partition(registry.contains)
    unknown.foreach { n =>
      val near = suggest(n, registry.keys.toSeq)
      Console.err.println(s"[probe] unknown query '$n'; did you mean: ${near.mkString(", ")}")
    }
    def write(name: String, txt: String): Unit = outDir match {
      case Some(dir) =>
        val f = new java.io.File(dir, name)
        java.nio.file.Files.write(f.toPath, txt.getBytes("UTF-8"))
        Console.err.println(s"[probe] wrote ${f.getPath} (${txt.length} chars)")
      case None => println(s"\n========== $name ==========\n$txt")
    }
    if (mode == "time" && known.nonEmpty) Bench.warmUp(spark, sfDir)
    val failed = known.filterNot { name =>
      val fn = registry(name)
      try mode match {
        case "time" =>
          val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          val times = new TaskTimes
          spark.sparkContext.addSparkListener(times)
          val r = try Bench.measure(spark, sfDir, name, fn, gc = true)
            finally spark.sparkContext.removeSparkListener(times)
          val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
          println(f"TIMED $name ${r.sec}%.2f s jobs=${r.jobs} compiles=$compiles " +
            s"deser_ms=${times.total._1}")
          r.ok
        case "jobs" => auditJobs(spark, sfDir, name, fn)
        case "plan" =>
          write(s"$name$suffix.txt",
            fn(spark, sfDir).queryExecution.explainString(FormattedMode))
          true
        case "trace" =>
          val plans = traceExecuted(spark)(fn(spark, sfDir).write.format("noop")
            .mode("overwrite").save())
          plans.zipWithIndex.foreach { case ((action, txt), i) =>
            write(s"${name}_exec${i}_$action$suffix.txt", txt)
          }
          plans.nonEmpty
        case "windows" =>
          val bad = fn(spark, sfDir).queryExecution.optimizedPlan.collect {
            case w: LWindow if w.partitionSpec.isEmpty => w
          }
          if (bad.nonEmpty) println(s"UNPARTITIONED-WINDOW $name (${bad.size} node(s))")
          true
      } catch { case e: Throwable =>
        Console.err.println(s"[probe] $name failed: ${e.getMessage}")
        false
      } finally {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
    }
    val bad = unknown ++ failed
    if (bad.isEmpty) 0 else {
      Console.err.println(s"[probe] FAILED (${bad.size}): ${bad.mkString(",")}")
      1
    }
  }

  /** `<method> at <file>:<line>`, Spark's short call-site form, from the long
    * form (the last Spark frame, then the first user frame) that a SQL
    * execution's start event carries as its details.
    */
  private[tools] def callSite(details: String): Option[String] = {
    val Frame = """(.+)\.([^.]+)\((.*)\)""".r
    details.linesIterator.take(2).toSeq match {
      case Seq(Frame(cls, method, _), Frame(_, _, at)) =>
        Some(s"${if (method == "<init>") cls.split('.').last else method} at $at")
      case _ => None
    }
  }

  /** Summed `(executorDeserializeTime, executorRunTime)` ms of the tasks of
    * each job started while registered. Run time excludes deserialization,
    * so a task payload that is slow to rebuild shows only in the first.
    */
  private final class TaskTimes extends SparkListener {
    private val jobOfStage = new ConcurrentHashMap[Int, Int]()
    private val byJob = new ConcurrentHashMap[Int, (Long, Long)]()
    override def onJobStart(js: SparkListenerJobStart): Unit =
      js.stageIds.foreach(jobOfStage.putIfAbsent(_, js.jobId))
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      Option(te.taskMetrics).foreach { m =>
        byJob.merge(jobOfStage.getOrDefault(te.stageId, -1),
          (m.executorDeserializeTime, m.executorRunTime),
          (a: (Long, Long), b: (Long, Long)) => (a._1 + b._1, a._2 + b._2))
      }
    def of(jobId: Int): (Long, Long) = byJob.getOrDefault(jobId, (0L, 0L))
    def total: (Long, Long) =
      byJob.values.asScala.foldLeft((0L, 0L)) { case ((d, r), (a, b)) => (d + a, r + b) }
  }

  /** Warm pass, then the measured pass with a per-job listener. A job that
    * runs under a SQL execution (every AQE stage job, whose own call site
    * is a thread-pool frame) is named by the action that started the
    * execution, e.g. `localCheckpoint at Dedup.scala:409`; the returned
    * frame's jobs run under Bench's own execution, `withNewExecutionId at
    * Bench.scala:<line>`.
    */
  private def auditJobs(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => DataFrame): Boolean = {
    if (!Bench.measure(spark, sfDir, name, fn, gc = true).ok) return false
    val jobs = new ConcurrentLinkedQueue[(Int, Int, Option[Long], String)]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val durs = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
    val actions = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        starts.put(js.jobId, js.time)
        val execution = Option(js.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))).map(_.toLong)
        val stages = js.stageInfos.map(si => s"${si.name}(${si.numTasks}t)").mkString(" | ")
        jobs.add((js.jobId, js.stageInfos.size, execution, stages))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        durs.put(je.jobId, (je.time - starts.getOrDefault(je.jobId, je.time)) / 1e3)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          callSite(s.details).foreach(actions.put(s.executionId, _))
        case _ =>
      }
    }
    val times = new TaskTimes
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.addSparkListener(times)
    val r = try Bench.measure(spark, sfDir, name, fn, gc = true)
      finally {
        spark.sparkContext.removeSparkListener(listener)
        spark.sparkContext.removeSparkListener(times)
      }
    println(f"== $name: ${r.jobs} jobs, ${r.sec}%.2f s ==")
    jobs.forEach { case (id, nStages, execution, stages) =>
      val action = execution.flatMap(x => Option(actions.get(x))).fold("")(a => s"[$a]  ")
      val (deser, run) = times.of(id)
      println(f"job $id%3d  ${durs.getOrDefault(id, -1.0)}%6.2f s  deser_ms=$deser%5d run_ms=$run%6d  " +
        f"stages=$nStages%2d  $action$stages")
    }
    r.ok
  }

  /** (action, formatted executed plan) of every Dataset action `body` runs. */
  private def traceExecuted(spark: SparkSession)(body: => Unit): Seq[(String, String)] = {
    val plans = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add((action, qe.explainString(FormattedMode)))
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; GraftSession.drain(spark) }
    finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[(String, String)]).toSeq
  }

  /** Registry names containing `name` (sans `q_`), else the three nearest. */
  private def suggest(name: String, all: Seq[String]): Seq[String] = {
    val key = name.stripPrefix("q_")
    val near = all.filter(_.contains(key)).sorted
    if (near.nonEmpty) near.take(5) else all.sortBy(editDistance(_, name)).take(3)
  }

  private def editDistance(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i
      for (j <- 1 to b.length)
        cur(j) = math.min(math.min(cur(j - 1), prev(j)) + 1,
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      prev = cur
    }
    prev(b.length)
  }
}
