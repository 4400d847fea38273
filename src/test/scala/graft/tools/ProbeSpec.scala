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

  test("jobs reports the job count Bench measures") {
    val (code, out, _) = probe("jobs", sf, "q_st1_calscan")
    assert(code == 0)
    val reported = """== q_st1_calscan: (\d+) jobs""".r.findFirstMatchIn(out).get.group(1).toInt
    val listed = out.linesIterator.count(_.startsWith("job "))
    val bench = Bench.measure(spark, sf, "probe_spec_bench",
      SparkEntry.queries("q_st1_calscan"), gc = false).jobs
    assert(reported == bench && listed == bench, out)
  }

  test("windows flags the registry's unpartitioned windows") {
    val (code, out, _) = probe("windows", sf, "all")
    assert(code == 0)
    val flagged = "UNPARTITIONED-WINDOW (\\S+)".r.findAllMatchIn(out).map(_.group(1)).toSet
    // the set the pre-Probe WindowAudit main flagged at this scale
    assert(flagged == Set("q_mix_budget", "q_mix_select", "q_mix_select_auto",
      "q_sample_topfrac_dist", "q_text_qmodel_auc", "q_text_retrieval_eval"))
  }
}
