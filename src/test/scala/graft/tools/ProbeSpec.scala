package graft.tools

import java.nio.file.Files

import graft.{Bench, SparkEntry, SparkTestBase}

/** `Probe` called as a function on the shared session (no `sys.exit`). */
class ProbeSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  /** (exit code, stdout, stderr) of one Probe run. */
  private def probe(args: String*): (Int, String, String) = {
    assume(Files.exists(java.nio.file.Paths.get(sf, "lineitem.parquet")), s"testdata missing at $sf")
    val out = new java.io.ByteArrayOutputStream
    val err = new java.io.ByteArrayOutputStream
    val code = Console.withOut(out)(Console.withErr(err)(Probe.run(spark, args)))
    (code, out.toString("UTF-8"), err.toString("UTF-8"))
  }

  test("every mode rejects an unknown query with a non-zero result and a did-you-mean") {
    for (mode <- Seq("time", "jobs", "plan", "trace", "windows")) {
      val (code, _, err) = probe(mode, sf, "q_st1_calscn")
      assert(code != 0, mode)
      assert(err.contains("did you mean: ") && err.contains("q_st1_calscan"), s"$mode: $err")
    }
    assert(probe("explain", sf, "all")._1 == 2)
  }

  test("plan writes <q><suffix>.txt") {
    val dir = Files.createTempDirectory("probe_plan")
    val (code, _, _) = probe("plan", sf, "q_st1_calscan", dir.toString, "_before")
    assert(code == 0)
    assert(Files.readString(dir.resolve("q_st1_calscan_before.txt"))
      .startsWith("== Physical Plan =="))
  }

  test("time prints seconds, jobs and codegen compiles per query") {
    val (code, out, _) = probe("time", sf, "q_c2_freqrange")
    assert(code == 0)
    assert("""(?m)^TIMED q_c2_freqrange \d+\.\d\d s jobs=\d+ compiles=\d+ deser_ms=\d+$""".r
      .findFirstIn(out).isDefined, out)
  }

  test("time and jobs report task deserialize ms beside run ms on an sdfits scan") {
    val (code, out, _) = probe("time", sf, "q_sdfits_read")
    assert(code == 0)
    assert("""(?m)^TIMED q_sdfits_read \d+\.\d\d s jobs=\d+ compiles=\d+ deser_ms=\d+$""".r
      .findFirstIn(out).isDefined, out)
    val (jcode, jobs, _) = probe("jobs", sf, "q_sdfits_read")
    assert(jcode == 0)
    val timed = """^job +\d+ +\d+\.\d\d s  deser_ms= *(\d+) run_ms= *(\d+)  stages=""".r
    val lines = jobs.linesIterator.filter(_.startsWith("job ")).toSeq
    assert(lines.nonEmpty && lines.forall(timed.findFirstIn(_).isDefined), jobs)
    // the scan's tasks ran: some job reports their run time
    assert(lines.exists(l => timed.findFirstMatchIn(l).get.group(2).toLong > 0), jobs)
  }

  test("jobs reports the job count Bench measures") {
    val (code, out, _) = probe("jobs", sf, "q_st1_calscan")
    assert(code == 0)
    val reported = """== q_st1_calscan: (\d+) jobs""".r.findFirstMatchIn(out).get.group(1).toInt
    val listed = out.linesIterator.count(_.startsWith("job "))
    val bench = Bench.measure(spark, sf, "probe_spec_bench",
      SparkEntry.queries("q_st1_calscan"), gc = false).jobs
    assert(reported == bench && listed == bench, out)
  }

  test("jobs names the action behind each AQE stage job") {
    val (code, out, _) = probe("jobs", sf, "q_dedup_components_star")
    assert(code == 0)
    val lines = out.linesIterator.filter(_.startsWith("job ")).toSeq
    assert(lines.nonEmpty)
    // a stage job's own call site is the AQE thread pool's frame; the
    // action of its SQL execution names it, and the returned frame's jobs
    // run under Bench's measured execution
    val action = """\[\w+ at \w+\.(?:scala|java):\d+\]""".r
    val pooled = lines.filter(_.contains("withThreadLocalCaptured"))
    assert(pooled.nonEmpty && pooled.forall(action.findFirstIn(_).isDefined), out)
    assert(lines.exists(_.contains("[withNewExecutionId at Bench.scala:")), out)
    assert(lines.exists(_.contains("localCheckpoint at Dedup.scala:")), out)
    assert(Probe.callSite("org.apache.spark.sql.classic.Dataset.localCheckpoint(Dataset.scala:10)\n" +
      "graft.llm.Dedup$.nearDupComponentsStar(Dedup.scala:409)\nx.y(Z.scala:1)")
      .contains("localCheckpoint at Dedup.scala:409"))
    assert(Probe.callSite("<unknown>").isEmpty)
  }

  test("windows flags the registry's unpartitioned windows") {
    val (code, out, _) = probe("windows", sf, "all")
    assert(code == 0)
    val flagged = "UNPARTITIONED-WINDOW (\\S+)".r.findAllMatchIn(out).map(_.group(1)).toSet
    // the set the pre-Probe WindowAudit main flagged at this scale, and
    // q_pipeline_spectrum: its single-file fixture's per-bucket offsets
    // (`Positions.withPos` over a constant FILE_ID, one row per 4096-row
    // bucket) are a running sum with no partition key, and no cache or
    // checkpoint in the spectrum reduction hides them from the audit
    assert(flagged == Set("q_mix_budget", "q_mix_select", "q_mix_select_auto",
      "q_pipeline_spectrum", "q_sample_topfrac_dist", "q_text_qmodel_auc",
      "q_text_retrieval_eval"))
  }
}
