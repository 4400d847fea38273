package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
object Bench {

  /** One query's measurement: seconds, whether it succeeded, and the
    * profile of its own job group, without the QueryExecutions (a whole
    * run's executed plans would keep their broadcasts and checkpoint RDDs
    * alive).
    */
  final case class Run(name: String, sec: Double, ok: Boolean, profile: QueryProfile) {
    def jobs: Int = profile.jobs.size
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Inter-query GC cadence (VERDICT r17 item 4): the unconditional
    // System.gc() between all 302 queries ran OUTSIDE every timed region
    // but its ~302 full-GC pauses were a large slice of the run's
    // wall-clock. Block/old-gen pressure is already released by the
    // clearCache + unpersist in [[measure]]; a full GC every query was
    // belt-and-braces. Every 4th query keeps at most 3 queries of dead
    // checkpoint blocks pending (measured: per-query seconds and job counts
    // flat vs the every-query cadence at sf0.1 — see OPTIMIZATION_r18.md).
    // SPARK_GRAFT_GC_EVERY=1 restores the old cadence; the timing
    // methodology (noop sink, per-query job groups) is unchanged.
    val gcEvery = GraftSession.envInt("SPARK_GRAFT_GC_EVERY", 4)
    val spark = GraftSession.create()
    warmUp(spark, sfDir)
    // Optional subset (comma-separated names) for local scale smokes —
    // the driver never sets it, so driver runs always cover the registry.
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet)
    val results = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .sortBy(_._1).zipWithIndex.map { case ((name, fn), i) =>
        measure(spark, sfDir, name, fn, gc = (i + 1) % gcEvery == 0)
      }
    // A crashed query records its NEGATED partial time (visible failure
    // marker) and is excluded from the total rather than shrinking it.
    // The stdout line is kept SHORT (2-decimal times, no jobs map): the
    // round-6 driver artifact was truncated mid-line and the gate total had
    // to be reconstructed (ADVICE r6) — every byte here risks the parse.
    // Full-precision per-query {sec, jobs} goes to target/bench_detail.json
    // (the recorded-baseline artifact, VERDICT r6 item 8), with the profile.
    // Locale.ROOT: the default-locale formatter prints "1,234" on
    // comma-decimal locales and breaks the one-line JSON contract.
    def fmt(v: Double, dp: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v))
    val qs = results.map { case Run(k, v, ok, _) => s"\"" + k + "\":" + fmt(if (ok) v else -v, 2) }
      .mkString("{", ",", "}")
    val total = results.collect { case Run(_, v, true, _) => v }.sum
    // Each row leads with sec and jobs (JobGate and tools/merge_bench.py read
    // those), then the query's profile under perfbench's per-layer counter
    // names: stages and tasks that ran, job-covered seconds (the union of
    // the group's job intervals), Janino compiles, Catalyst ms summed over
    // its actions, summed task deserialize and run seconds, shuffle and
    // spill MB, and the max/median task run time.
    val detail = results.map { case Run(k, v, ok, p) =>
      s"\"$k\":{\"sec\":${fmt(if (ok) v else -v, 3)},\"jobs\":${p.jobs.size}," +
        s"\"spark.stages\":${p.stagesRun},\"spark.tasks\":${p.tasks}," +
        s"\"spark.job_s\":${fmt(p.jobMs / 1e3, 3)},\"codegen.compiles\":${p.compiles}," +
        s"\"catalyst.plan_ms\":${p.planMs},\"spark.task_deser_s\":${fmt(p.deserMs / 1e3, 3)}," +
        s"\"spark.task_busy_s\":${fmt(p.runMs / 1e3, 3)}," +
        s"\"spark.shuffle_write_mb\":${fmt(p.shuffleWrite / 1e6, 6)}," +
        s"\"spark.shuffle_read_mb\":${fmt(p.shuffleRead / 1e6, 6)}," +
        s"\"spark.spill_mb\":${fmt(p.spill / 1e6, 6)},\"spark.task_skew\":${fmt(p.taskSkew, 3)}}"
    }.mkString("{", ",", "}")
    try {
      val f = new java.io.File("target/bench_detail.json")
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath,
        s"""{"total":${fmt(total, 3)},"sf":"$sfDir","queries":$detail}""".getBytes("UTF-8"))
    } catch { case _: java.io.IOException => () } // detail file is best-effort
    println(s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    // Final COMPACT summary line (VERDICT r13 "What's wrong" nit): the
    // driver captures only the tail of stdout, and the full per-query line
    // above (~6 KB at 272 queries) can be truncated at its head, leaving
    // the driver's parse with "parsed": null. This short line is always the
    // LAST JSON on stdout and fits any tail window, so the driver artifact
    // stays self-contained. Same "metric" shape so either line satisfies a
    // {"metric":...} scanner.
    val nFail = results.count(!_.ok)
    println(s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","n_queries":${results.size},"n_failed":$nFail,"sf":"$sfDir"}""")
    spark.stop()
    // Job-count plan-regression gate (opt-in; the driver never sets this):
    // after the stdout contract line is safely emitted, compare this run's
    // per-query job counts against the recorded baseline and fail on
    // growth — job counts are plan-stable where seconds are load-hostage.
    sys.env.get("SPARK_GRAFT_ASSERT_JOBS").foreach { baselinePath =>
      val recorded = JobGate.loadBaseline(baselinePath)
      val actual = results.collect { case r @ Run(k, _, true, _) => k -> r.jobs }.toMap
      val violations = JobGate.compare(recorded, actual)
      if (violations.nonEmpty) {
        violations.foreach(v => System.err.println(s"[jobgate] $v"))
        sys.exit(1)
      } else System.err.println(
        s"[jobgate] ok: ${actual.size} queries within recorded job counts")
    }
  }

  /** Warm-up: JVM/codegen/parquet-reader classloading otherwise lands on
    * whichever query happens to run first and distorts its number. Beyond
    * the scan+agg warm, touch the operator families whose FIRST use loads
    * large class graphs (WindowExec + unsafe sorter, broadcast hash join,
    * Generate, shuffle writer): per-plan codegen still compiles per query,
    * but the class loading and the Janino compiler itself warm here, off
    * every query's clock — same warmup on both sides of the 2x gate.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    spark.read.parquet(s"$sfDir/region.parquet").count()
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    val r = spark.range(10000).toDF("id")
    r.withColumn("w", row_number().over(
        Window.partitionBy(col("id") % 10).orderBy(col("id"))))
      .agg(max(col("w"))).collect()
    r.join(broadcast(spark.range(100).toDF("id")), "id").count()
    r.select(explode(split(lit("a b c"), " ")).as("t"))
      .groupBy(col("t")).count().orderBy(col("t")).collect()
    // The poly-fingerprint kernel backs the dedup/DSIR/qmodel families;
    // its first ~10k evaluations run pre-C2 (measured: whichever
    // fingerprint-heavy query lands first in a JVM paid up to 3×).
    spark.range(100000).selectExpr("cast(id as string) AS s")
      .select(graft.llm.TextAnalysis.fingerprint(col("s")).as("f"))
      .agg(max(col("f"))).collect()
  }

  private val measurements = new java.util.concurrent.atomic.AtomicLong()

  /** Times one registry query the way every recorded number is taken, and
    * profiles its Spark jobs. `sec` spans building and running the query;
    * the profile's bus drains fall outside it. `gc` adds a full GC after the
    * cleanup (the caller's cadence). A failure is logged and returned as
    * `ok = false`.
    */
  def measure(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => DataFrame, gc: Boolean): Run = {
    // Job group per measurement → per-query job counts (VERDICT r6 item 8:
    // seconds alone can't tell cold-JIT tax from a plan regression; the
    // number of driver actions can). The group id is unique to this
    // measurement, so a query measured twice counts each run's own jobs;
    // the description stays the query name.
    val group = s"$name#${measurements.incrementAndGet()}"
    val ((ok, sec), profile) = QueryProfile.record(spark) {
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      // Noop sink, not count(): count() lets Catalyst prune unreferenced
      // projections, so map-only queries would benchmark near-zero work.
      // Evaluating every InternalRow measures the actual plan. It runs as one
      // SQL execution named after the query, as a Dataset action would: its
      // jobs carry `spark.sql.execution.id` and QueryExecutionListeners see
      // the measured plan.
      val ok =
        try {
          val qe = fn(spark, sfDir).queryExecution
          SQLExecution.withNewExecutionId(qe, Some(name))(qe.toRdd.foreach(_ => ()))
          true
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
      (ok, sec)
    }
    // Between queries: drop caches/localCheckpoint blocks (always), and
    // periodically force a GC — persisted blocks otherwise live until
    // their RDD is collected, and the accumulated block-manager +
    // old-gen pressure from 60+ queries distorts whatever happens to run
    // late in the sequence (measured: the q_text_* family at 10-80x its
    // isolated time without any GC at all).
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    if (gc) System.gc()
    Run(name, sec, ok, profile.ofGroup(group).copy(plans = Nil))
  }
}
