package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Command-line arguments; every value is checked and a bad one fails loudly. */
final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, out: String, cpus: Int, smoke: Boolean)

object Args {
  val Workloads = Seq("radio_bulk", "curation_heavy")

  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, s"arguments must be --name value pairs, got: ${argv.mkString(" ")}")
    val kv = argv.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"expected --name, got '$k'")
      k.drop(2) -> v
    }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "work", "out", "cpus", "smoke")
    val unknown = kv.keySet -- known
    require(unknown.isEmpty, s"unknown arguments: ${unknown.mkString(", ")}")
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    def int(k: String, lo: Long, hi: Long): Long = {
      val v = need(k).toLongOption.getOrElse(
        throw new IllegalArgumentException(s"--$k must be an integer, got '${need(k)}'"))
      require(v >= lo && v <= hi, s"--$k must be in [$lo, $hi], got $v")
      v
    }
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (known: ${Workloads.mkString(", ")})")
    Args(w, int("seed", Long.MinValue, Long.MaxValue), int("seconds", 1, 600).toInt,
      int("trace", 0, 1) == 1, need("work"), need("out"), int("cpus", 1, 1024).toInt,
      int("smoke", 0, 1) == 1)
  }
}

/** The benchmark's JVM side: builds one workload's seeded inputs, sets up
  * once (session, inputs, warm-up pass), runs timed passes for
  * `seconds`, checks every output, and writes the measurements as JSON.
  * With `trace`, untraced and traced passes alternate and the per-layer
  * breakdown is written instead of the end-to-end figures.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val result = run(a)
    Json.writeFile(a.out, result)
  }

  def newSession(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Job, stage and query records kept for status queries only: a small
      // cap fills within the warm-up pass, so the live heap between passes
      // does not grow with the number of passes run.
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def workload(a: Args): Workload =
    a.workload match {
      case "radio_bulk" =>
        val (files, rows, ch) = if (a.smoke) (2, 128, 64) else (8, 512, 1024)
        new RadioBulk(RadioFixture(a.seed, files, rows, ch))
      case "curation_heavy" =>
        val size = if (a.smoke) 100 else 300
        new Curation(Corpus(a.seed, size, size))
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Between passes, outside every timed interval: drop cached and
    * checkpointed blocks (as the program's own Bench does between queries),
    * run full GCs until the live heap stops falling, and return it in MB.
    * Spark's ContextCleaner frees broadcast and shuffle state on its own
    * thread, after a GC has found their handles unreachable, so the heap
    * after a single GC still holds state the pass has already let go of.
    */
  def settle(spark: SparkSession): Double = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    def gcHeap(): Double = { System.gc(); EngineProbe.heapUsedMb() }
    var last = gcHeap()
    var now = last
    var rounds = 0
    do {
      last = now
      Thread.sleep(100) // the cleaner's turn
      now = gcHeap()
      rounds += 1
    } while (now < last - 1.0 && rounds < 10)
    now
  }

  def run(a: Args): Map[String, Any] = {
    val w = workload(a)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val checked = ArrayBuffer[Op]()
    // Set-up, timed from the JVM's start so that cold-start costs (class
    // loading, static and registry initialisation, first JIT) count: session
    // start, input generation and one warm-up pass.
    val t0 = System.nanoTime()
    val spark = newSession(a)
    val t1 = System.nanoTime()
    val dir = s"${a.work}/input"
    w.prepare(spark, dir)
    val t2 = System.nanoTime()
    checked ++= w.pass(spark, dir, new Tracer(false, spark.sparkContext), 0)
    val t3 = System.nanoTime()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    System.err.println(f"[bench] setup: $setupS%.2f s from JVM start (before session ${setupS - (t3 - t0) / 1e9}%.2f s, " +
      f"session ${(t1 - t0) / 1e9}%.2f s, inputs ${(t2 - t1) / 1e9}%.2f s, warm-up ${(t3 - t2) / 1e9}%.2f s)")
    settle(spark)
    val sc = spark.sparkContext
    val untraced = new Tracer(false, sc)
    val burnInEnd = System.nanoTime() + w.burnInSeconds * 1000000000L
    while (System.nanoTime() < burnInEnd) {
      checked ++= w.pass(spark, dir, untraced, 0)
      settle(spark)
    }
    val passS = ArrayBuffer[Double]()
    val tracedPassS = ArrayBuffer[Double]()
    val opMs = ArrayBuffer[Double]()
    val opNames = ArrayBuffer[String]()
    val layerRows = ArrayBuffer[Map[String, Double]]()
    val tracer = new Tracer(a.trace, sc)
    val probe = if (a.trace) Some(new EngineProbe(spark)) else None
    val liveHeapMb = ArrayBuffer[Double]()
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var p = 1
    // Closed loop, one client: each pass starts when the previous one ends.
    // Traced runs alternate an untraced and a traced pass.
    while (passS.isEmpty || (a.trace && tracedPassS.isEmpty) || System.nanoTime() < deadline) {
      val traced = a.trace && p % 2 == 0
      if (traced) {
        probe.get.attach()
        probe.get.begin()
        val ops = w.pass(spark, dir, tracer, p)
        val (counters, jobSpans) = probe.get.end()
        probe.get.detach()
        checked ++= ops
        tracedPassS += ops.map(_.ms).sum / 1e3
        layerRows += Layers.breakdown(tracer.spans.toSeq, jobSpans, s"pass$p", counters, w.opsPerPass)
        tracer.spans ++= jobSpans.map(j => j.copy(op = s"pass$p"))
        settle(spark)
      } else {
        val ops = w.pass(spark, dir, untraced, p)
        checked ++= ops
        passS += ops.map(_.ms).sum / 1e3
        opMs ++= ops.map(_.ms)
        opNames ++= ops.map(_.name)
        liveHeapMb += settle(spark)
      }
      p += 1
    }

    val info = mutable.LinkedHashMap[String, (Double, String)]()
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    val wall = median(passS.toSeq)
    if (a.trace) {
      tracer.op = "probe"
      w.probes(spark, dir, tracer)
      val rows = layerRows.toSeq
      val keys = rows.flatMap(_.keys).distinct
      val med = keys.map(k => k -> median(rows.map(_.getOrElse(k, 0.0)))).toMap
      med.toSeq.sortBy(_._1).foreach { case (k, v) => info(k) = (v, Layers.unit(k)) }
      // Probe spans (outside every pass) give the layers a pass does not isolate.
      val probeSpans = tracer.spans.filter(_.op == "probe")
      probeSpans.find(_.name == "sdfits.scan").foreach { s =>
        val bytes = new File(dir).listFiles().filter(_.getName.endsWith(".fits")).map(_.length).sum
        info("sdfits.scan_s") = (s.dur / 1e6, "s")
        info("sdfits.scan_mb_per_s") = (bytes / 1e6 / (s.dur / 1e6), "MB/s")
      }
      probeSpans.find(_.name == "validate").foreach(s => info("validate.s") = (s.dur / 1e6, "s"))
      probeSpans.find(_.name == "sdfits.write").foreach { s =>
        val bytes = Option(new File(s"${dir}_probe").listFiles()).toSeq.flatten
          .filter(_.getName.endsWith(".fits")).map(_.length).sum
        info("sdfits.write_s") = (s.dur / 1e6, "s")
        info("sdfits.write_mb_per_s") = (bytes / 1e6 / (s.dur / 1e6), "MB/s")
      }
      info("trace.untraced_wall_s") = (wall, "s")
      info("trace.traced_wall_s") = (median(tracedPassS.toSeq), "s")
      for (k <- Layers.PerLayer) {
        val v = if (k == "trace.overhead_s") median(tracedPassS.toSeq) - wall else med.getOrElse(k, 0.0)
        metrics(k) = (v, Layers.unit(k))
      }
      Json.writeFile(s"${a.work}/trace_${w.name}.json",
        Map("workload" -> w.name, "spans" -> tracer.spans.toSeq.map(s => Map(
          "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
          "start_us" -> s.start, "end_us" -> s.end))))
    } else {
      metrics("setup_s") = (setupS, "s")
      metrics("wall_s") = (wall, "s")
      metrics("peak_heap_mb") = (liveHeapMb.max, "MB")
      if (w.cellsPerPass > 0) info("cells_per_s") = (w.cellsPerPass / wall, "1/s")
      info("obs_p50_ms") = (median(opMs.toSeq), "ms")
    }
    info("passes") = (passS.size.toDouble, "count")
    info("obs_samples") = (opMs.size.toDouble, "count")

    checked ++= w.finalChecks(spark, dir, s"${a.work}/out")
    stopSession(spark)
    val failed = checked.filter(_.error.isDefined)
    Map(
      "workload" -> w.name, "seed" -> a.seed, "cpus" -> a.cpus, "trace" -> a.trace,
      "input_dir" -> dir,
      "setup_s" -> setupS, "pass_s" -> passS.toSeq, "traced_pass_s" -> tracedPassS.toSeq,
      "live_heap_mb" -> liveHeapMb.toSeq,
      "ops" -> opNames.zip(opMs).map { case (n, ms) => Map("name" -> n, "ms" -> ms) }.toSeq,
      "attempted" -> checked.size, "failed" -> failed.size,
      "errors" -> failed.flatMap(_.error).take(20).toSeq,
      "metrics" -> metrics.toSeq.map { case (k, (v, u)) => Map("name" -> k, "value" -> v, "unit" -> u) },
      "info" -> info.toSeq.map { case (k, (v, u)) => Map("name" -> k, "value" -> v, "unit" -> u) })
  }
}

/** Per-layer breakdown of one traced pass from its spans and engine counters. */
object Layers {
  /** The per-layer metrics every traced run prints, in `BENCHMARK.json` order. */
  val PerLayer: Seq[String] = Seq(
    "spark.jobs", "spark.jobs_per_obs", "spark.job_s", "spark.driver_gap_s",
    "catalyst.plan_ms", "codegen.compiles", "codegen.compile_ms",
    "spark.stages", "spark.tasks", "spark.task_busy_s", "spark.task_skew",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "jvm.alloc_mb",
    "continuum.jobs", "spectrum.jobs") ++ Curation.Queries.map(_ + ".jobs") ++
    Seq("trace.overhead_s")

  def unit(k: String): String =
    if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_mb_per_s")) "MB/s"
    else if (k.endsWith("_s") || k.endsWith(".s")) "s"
    else if (k.endsWith("_frac") || k.endsWith("_skew")) "ratio"
    else "count"

  /** Length of the union of `intervals`, clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s0, e0) <- intervals.map { case (s, e) => (s.max(lo), e.min(hi)) }.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (s0 > curE) { if (curE > curS) total += curE - curS; curS = s0; curE = e0 }
      else curE = curE.max(e0)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** For the spans of pass `op`: each span name's total time (`<name>.s`),
    * self time (`<name>.self_s`: its span minus the part its child spans
    * and Spark jobs cover) and jobs issued inside it (`<name>.jobs`); the
    * pass's job-covered time and driver gap; and how much of the pass the
    * self times plus job time account for (1.0 when spans nest cleanly).
    */
  def breakdown(all: Seq[Span], jobs: Seq[Span], op: String,
      counters: Map[String, Double], opsPerPass: Int): Map[String, Double] = {
    val spans = all.filter(s => s.op == op || s.op.startsWith(op + "/"))
    val root = spans.find(s => s.name == "pass" && s.parent == -1)
      .getOrElse(throw new IllegalStateException(s"no pass span for $op"))
    val children = (spans ++ jobs).groupBy(_.parent)
    val byId = spans.map(s => s.id -> s).toMap
    def ancestors(id: Int): List[Span] = byId.get(id).map(s => s :: ancestors(s.parent)).getOrElse(Nil)
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    var accounted = 0L
    for (s <- spans) {
      val kids = children.getOrElse(s.id, Nil)
      val self = s.dur - covered(kids.map(k => (k.start, k.end)), s.start, s.end)
      val jobCover = covered(kids.filter(_.name == "spark.job").map(k => (k.start, k.end)), s.start, s.end)
      accounted += self + jobCover
      if (s.name != "pass") {
        out(s"${s.name}.s") += s.dur / 1e6
        out(s"${s.name}.self_s") += self / 1e6
        out(s"${s.name}.calls") += 1
      }
    }
    for (j <- jobs; name <- ancestors(j.parent).map(_.name).distinct if name != "pass")
      out(s"$name.jobs") += 1
    val jobTime = covered(jobs.map(j => (j.start, j.end)), root.start, root.end)
    out("spark.job_s") = jobTime / 1e6
    out("spark.driver_gap_s") = (root.dur - jobTime) / 1e6
    out("pass.s") = root.dur / 1e6
    out("trace.accounted_frac") = accounted.toDouble / root.dur
    if (out.contains("sdfits.header.s"))
      out("sdfits.header_ms") = out("sdfits.header.s") * 1e3 / out("sdfits.header.calls")
    out ++= counters
    out("spark.jobs_per_obs") = counters("spark.jobs") / opsPerPass
    out.toMap
  }
}

/** Minimal JSON writer for the result and trace files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }

  def writeFile(path: String, v: Any): Unit = {
    val f = new File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(f.toPath, render(v).getBytes("UTF-8"))
  }
}
