package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.model.HeaderRecord

/** The multi-file reduction must reproduce the reference's per-file
  * continuum file by file: `runAll` over every file at once, and `run` (the
  * same reduction over one observation) on each file alone, both against
  * the scalar port in [[ReferenceReduction]].
  */
class ContinuumAllSpec extends SparkTestBase {
  import spark.implicits._

  private val header = HeaderRecord.Header(
    java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "onoff", 1400.0, 80.0,
    HeaderRecord.parseHistory(Seq(
      "DATAMODE HIRES", "START,STOP channels 0_3", "HIRES bands  1355, 1435")))

  /** nFiles observations with per-file varying science levels and drifting
    * calibration spikes (pre level differs from post → exercises the z-test
    * branches; file index varies the data so files are not identical).
    * Row i of file f sits at t = i s with ROWIDX `rowidx(f, i)`. With
    * `interleave`, every row is followed by one of another IFNUM or PLNUM
    * (a diode-on spike F1 must drop) at the next ROWIDX, so the kept rows'
    * ROWIDX are never their positions. `data` spreads a row's level over
    * its four channels.
    */
  private def obs(nFiles: Int, rowsPerFile: Int = 64,
      rowidx: (Int, Int) => Long = (_, i) => i.toLong,
      interleave: Boolean = false,
      data: Double => Seq[Double] = Seq.fill(4)(_)): DataFrame = {
    val rows = for (f <- 0 until nFiles; i <- 0 until rowsPerFile;
        other <- if (interleave) Seq(false, true) else Seq(false)) yield {
      val (cal, swp, level) =
        if (other) (1, 0, 100.0)
        else if (i < 8) (1, 0, 2.0 + f)
        else if (i < 16) (0, 0, 0.5)
        else if (i < rowsPerFile - 16) (0, 1, 1.0 + 0.1 * f + 0.001 * i)
        else if (i < rowsPerFile - 8) (0, 0, 0.5)
        else (1, 0, 2.5 + f)
      val (ifnum, plnum) = if (!other) (0, 1) else if (i % 2 == 0) (1, 1) else (0, 0)
      val ridx = if (interleave) 2 * rowidx(f, i) + (if (other) 1 else 0) else rowidx(f, i)
      (f.toString, ridx,
        java.sql.Timestamp.valueOf(s"2024-01-01 00:${"%02d".format(i / 60)}:${"%02d".format(i % 60)}"),
        data(level), ifnum, plnum, cal, swp, "onoff:on")
    }
    rows.toDF("FILE_ID", "ROWIDX", "DATE_OBS", "DATA", "IFNUM", "PLNUM",
      "CALSTATE", "SWPVALID", "OBSMODE")
  }

  /** runAll's rows for each file, sorted by t (its product is unordered),
    * and run() on that file alone, in its own t order, equal the reference's
    * reduction of that file.
    */
  private def assertParity(df: DataFrame, nFiles: Int, p: Continuum.Params): Unit = {
    val expected = ReferenceReduction.files(df, header).view
      .mapValues(ReferenceReduction.continuum(_, header, p).sortBy(_._1)).toMap
    val all = Continuum.runAll(df, header, p)
      .as[(String, Double, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSeq.sortBy(_._1)).toMap
    assert(expected.keySet == (0 until nFiles).map(_.toString).toSet)
    for (f <- 0 until nFiles) {
      val single = Continuum.run(df.filter($"FILE_ID" === f.toString), header, p)
        .as[(Double, Double)].collect().toSeq
      val want = expected(f.toString)
      assert(want.nonEmpty && all(f.toString) == want, s"runAll: file $f diverged")
      assert(single == want, s"run: file $f diverged")
    }
  }

  test("runAll reproduces run() file-by-file (including the drift branch)") {
    assertParity(obs(3), 3, Continuum.Params(0, 1))
  }

  test("runAll reproduces run() when ROWIDX has gaps") {
    assertParity(obs(3, rowidx = (f, i) => 5L * i + f + (if (i > 30) 1000 else 0)), 3,
      Continuum.Params(0, 1))
  }

  test("runAll reproduces run() with interleaved rows of another IFNUM/PLNUM") {
    assertParity(obs(3, interleave = true), 3, Continuum.Params(0, 1))
  }

  test("runAll reproduces run() under an includeTime filter") {
    // drops rows 0..5 and 59..63: the data window starts at position 10,
    // not at ROWIDX 10
    assertParity(obs(3), 3, Continuum.Params(0, 1, includeTime = Seq((5.5, 58.5))))
  }

  test("runAll reproduces run() under includeFreq/excludeFreq (F7)") {
    // axis 1395, 1368.3, 1341.7, 1315 MHz: the include range drops channel
    // 3 and the exclude range channel 1, so each row sums channels 0 and 2;
    // the interleaved rows of other IFs and pols pass outside F1's crop
    assertParity(obs(3, interleave = true, data = l => Seq(l, 2 * l, 4 * l, 8 * l)), 3,
      Continuum.Params(0, 1, includeFreq = Seq((1320.0, 1400.0)),
        excludeFreq = Seq((1360.0, 1370.0))))
  }

  test("run reduces its whole input as one observation: a ROWIDX shared by two files fails") {
    val e = intercept[Exception] {
      Continuum.run(obs(2), header, Continuum.Params(0, 1)).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("duplicate ROWIDX")), e)
  }

  test("a duplicate (FILE_ID, ROWIDX) fails loudly, naming the file and the ROWIDX") {
    val df = obs(2).filter(!($"FILE_ID" === "1" && $"ROWIDX" === 21L))
      .union(obs(2).filter($"FILE_ID" === "1" && $"ROWIDX" === 20L))
    val e = intercept[Exception] {
      Continuum.runAll(df, header, Continuum.Params(0, 1)).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("duplicate ROWIDX 20 in file 1")), e)
  }

  test("runAll handles many files in one plan (driver issues O(1) jobs)") {
    val df = obs(100, rowsPerFile = 40)
    val out = Continuum.runAll(df, header, Continuum.Params(0, 1))
    assert(out.groupBy($"FILE_ID").count().count() == 100)
    assert(out.count() == 100L * (40 - 32)) // data window = rows 16..23 per file
    // The job count must not grow with the file count (per-file ST1/A8/A9
    // run executor-side; a per-file driver loop would issue O(N) jobs).
    def jobs(n: Int): Int = jobsOf {
      Continuum.runAll(obs(n, rowsPerFile = 40), header, Continuum.Params(0, 1))
        .queryExecution.toRdd.foreach(_ => ())
      spark.catalog.clearCache()
    }
    val (j2, j100) = (jobs(2), jobs(100))
    assert(j2 > 0 && j2 == j100, s"jobs at 2 files: $j2, at 100 files: $j100")
  }
}
