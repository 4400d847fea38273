package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.SparkContext
import org.apache.spark.graftbench.BusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock in epoch microseconds: spans and Spark job events (epoch
  * milliseconds) share one time base, so job intervals can be clipped to
  * the spans that issued them.
  */
object Clock {
  def micros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}

/** One traced interval. `parent` is the enclosing span's id (-1 at the
  * root); `op` names the pass and observation or query it belongs to.
  * Spark jobs are recorded as spans named `spark.job`.
  */
final case class Span(id: Int, parent: Int, name: String, op: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder around the benchmark's calls into each layer.
  * Disabled, it only runs the body. Enabled, it also tags Spark jobs with
  * the id of the innermost open span (a local property read back by
  * [[EngineProbe]]), so each job is attributed to the call that issued it.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op = ""

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = Clock.micros()
      try body
      finally {
        val t1 = Clock.micros()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
        spans += Span(id, parent, name, op, t0, t1)
      }
    }
}

object Tracer {
  val SpanKey = "graftbench.span"
}

/** Engine counters for one traced pass, fed by a [[SparkListener]], a
  * [[QueryExecutionListener]], Janino's compile log and the JVM's MXBeans.
  * [[begin]] and [[end]] bracket a pass; both drain the listener bus first,
  * so every event of the pass, and none of the previous one, is counted.
  */
final class EngineProbe(spark: SparkSession) {
  private val sc = spark.sparkContext

  final case class JobRec(id: Int, span: Int, startMs: Long, var endMs: Long)

  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private var stages = 0
  private var tasks = 0
  private var taskRunMs = 0L
  private val taskDurMs = ArrayBuffer[Long]()
  private var shuffleWrite = 0L
  private var shuffleRead = 0L
  private var spill = 0L
  private var planMs = 0L
  private var gc0 = 0L
  private var alloc0 = 0L
  private var compiles0 = 0L
  private var compileLog0 = (0L, 0.0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = EngineProbe.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
        .map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = JobRec(e.jobId, span, e.time, -1L)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = EngineProbe.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      EngineProbe.this.synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = EngineProbe.this.synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs += m.executorRunTime
        taskDurMs += m.executorRunTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        spill += m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = EngineProbe.this.synchronized {
      planMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  }

  def attach(): Unit = {
    CodegenLog.install()
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  private def drain(): Unit = BusDrain.drain(sc, 60000L)

  def begin(): Unit = {
    drain()
    synchronized {
      jobs.clear(); stages = 0; tasks = 0; taskRunMs = 0L; taskDurMs.clear()
      shuffleWrite = 0L; shuffleRead = 0L; spill = 0L; planMs = 0L
    }
    gc0 = EngineProbe.gcMillis()
    alloc0 = EngineProbe.allocatedBytes()
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    compileLog0 = CodegenLog.snapshot()
  }

  /** Counters of the pass since [[begin]], plus its job spans. */
  def end(): (Map[String, Double], Seq[Span]) = {
    drain()
    val gc = EngineProbe.gcMillis() - gc0
    val alloc = EngineProbe.allocatedBytes() - alloc0
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val (logCount, logMs) = CodegenLog.snapshot()
    val compileCount = logCount - compileLog0._1
    // The compile log and the histogram are updated by the same call; if
    // they disagree the log was not captured and the time would be wrong.
    require(compileCount == compiles,
      s"codegen log saw $compileCount compiles, CodegenMetrics $compiles")
    synchronized {
      val open = jobs.values.filter(_.endMs < 0)
      require(open.isEmpty, s"jobs without an end event after drain: ${open.map(_.id)}")
      val sorted = taskDurMs.sorted
      val median = if (sorted.isEmpty) 0.0 else sorted(sorted.size / 2).toDouble
      val skew = if (median > 0) sorted.last / median else 1.0
      val counters = Map(
        "spark.jobs" -> jobs.size.toDouble,
        "spark.stages" -> stages.toDouble,
        "spark.tasks" -> tasks.toDouble,
        "spark.task_busy_s" -> taskRunMs / 1e3,
        "spark.task_skew" -> skew,
        "spark.shuffle_write_mb" -> shuffleWrite / 1e6,
        "spark.shuffle_read_mb" -> shuffleRead / 1e6,
        "spark.spill_mb" -> spill / 1e6,
        "catalyst.plan_ms" -> planMs.toDouble,
        "codegen.compiles" -> compiles.toDouble,
        "codegen.compile_ms" -> (logMs - compileLog0._2),
        "jvm.gc_s" -> gc / 1e3,
        "jvm.alloc_mb" -> alloc / 1e6)
      val jobSpans = jobs.values.toSeq.map(j =>
        Span(-1, j.span, "spark.job", "", j.startMs * 1000L, j.endMs * 1000L))
      (counters, jobSpans)
    }
  }
}

object EngineProbe {
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap bytes allocated by all JVM threads since the JVM started. */
  def allocatedBytes(): Long =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
      .getTotalThreadAllocatedBytes

  def heapUsedMb(): Double = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
}

/** Janino compile times, read from the code generator's own log line
  * ("Code generated in N ms", logged once per compile beside the
  * `CodegenMetrics` histogram update). The histogram keeps only a sample of
  * values, so its sum is not exact; the log line is.
  */
object CodegenLog {
  private val LoggerName = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val AppenderName = "graftbench-codegen"
  private val Line = "Code generated in ([0-9.]+) ms".r.unanchored
  private var count = 0L
  private var totalMs = 0.0

  def snapshot(): (Long, Double) = synchronized((count, totalMs))

  private def record(msg: String): Unit = msg match {
    case Line(ms) => synchronized { count += 1; totalMs += ms.toDouble }
    case _ => ()
  }

  /** (Re)installs the capture; Spark may reload the logging configuration
    * when a new context starts, so this runs after every session start.
    */
  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    if (cfg.getAppender[AbstractAppender](AppenderName) == null ||
        !cfg.getLoggers.containsKey(LoggerName)) {
      val appender = new AbstractAppender(AppenderName, null, null, true, Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit = record(e.getMessage.getFormattedMessage)
      }
      appender.start()
      cfg.addAppender(appender)
      val lc = new LoggerConfig(LoggerName, Level.INFO, false)
      lc.addAppender(appender, Level.INFO, null)
      cfg.addLogger(LoggerName, lc)
      ctx.updateLoggers()
    }
  }
}
