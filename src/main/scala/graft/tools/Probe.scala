package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Bench, GraftSession, SparkEntry}

/** Inspects registry queries on a `GraftSession` (`SPARK_GRAFT_CPUS` cores,
  * default 4, as Bench).
  *
  * Usage: tools/run_main.sh graft.tools.Probe <mode> <sfDir> <q1,q2,...|all> [outDir] [suffix]
  *
  *  - `time`: Bench's warm-up, then Bench's per-query measurement; one
  *    `TIMED <q> <sec> s jobs=<n>` line per query.
  *  - `jobs`: one warm pass, then the measured pass with one line per Spark
  *    job (duration, stage count, stage names and task counts) — which
  *    actions make up a query's job count.
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
          val r = Bench.measure(spark, sfDir, name, fn, gc = true)
          println(f"TIMED $name ${r.sec}%.2f s jobs=${r.jobs}")
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

  /** Warm pass, then the measured pass with a per-job listener. */
  private def auditJobs(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => DataFrame): Boolean = {
    // job ids are read per job group, so the warm pass gets its own
    if (!Bench.measure(spark, sfDir, s"$name#warm", fn, gc = true).ok) return false
    val jobs = new ConcurrentLinkedQueue[(Int, Int, String)]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val durs = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        starts.put(js.jobId, js.time)
        val site = js.stageInfos.map(si => s"${si.name}(${si.numTasks}t)").mkString(" | ")
        jobs.add((js.jobId, js.stageInfos.size, site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        durs.put(je.jobId, (je.time - starts.getOrDefault(je.jobId, je.time)) / 1e3)
    }
    spark.sparkContext.addSparkListener(listener)
    val r = try Bench.measure(spark, sfDir, name, fn, gc = true)
      finally spark.sparkContext.removeSparkListener(listener)
    println(f"== $name: ${r.jobs} jobs, ${r.sec}%.2f s ==")
    jobs.forEach { case (id, nStages, site) =>
      println(f"job $id%3d  ${durs.getOrDefault(id, -1.0)}%6.2f s  stages=$nStages%2d  $site")
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
