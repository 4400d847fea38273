package graft.pipeline

import org.apache.spark.sql.DataFrame
import graft.SparkTestBase
import graft.model.HeaderRecord

/** The multi-file spectrum reduction must reproduce the reference's
  * per-file spectrum file by file, including the no-off-transition
  * fallback: `runAll` over every file at once, and `run` (the same
  * reduction over one observation) on each file alone, both against the
  * scalar port in [[ReferenceReduction]].
  */
class SpectrumAllSpec extends SparkTestBase {
  import spark.implicits._

  private val header = HeaderRecord.Header(
    java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "onoff", 1400.0, 80.0,
    HeaderRecord.parseHistory(Seq(
      "DATAMODE HIRES", "START,STOP channels 0_3", "HIRES bands  1355, 1435")))

  /** One observation: row i is off when `off(i)`, has CALSTATE `cal(i)`
    * (F2 drops the diode rows) and ROWIDX `ridx(i)`.
    */
  private case class File(off: Int => Boolean, cal: Int => Int = _ => 0,
      ridx: Int => Long = _.toLong)

  /** Science rows, integer-valued DATA (exact sums), one FILE_ID per entry
    * of `files` (its index).
    */
  private def obs(files: Seq[File], rowsPerFile: Int = 30): DataFrame = {
    val rows = for ((file, f) <- files.zipWithIndex; i <- 0 until rowsPerFile) yield
      (f.toString, file.ridx(i),
        java.sql.Timestamp.valueOf(s"2024-01-01 00:00:${"%02d".format(i % 60)}"),
        Seq(1.0 * (f + 1), 2.0 * (i % 3), 3.0, 1.0 * ((f + i) % 5)),
        0, 1, file.cal(i), 0, if (file.off(i)) "onoff:off" else "onoff:on")
    rows.toDF("FILE_ID", "ROWIDX", "DATE_OBS", "DATA", "IFNUM", "PLNUM",
      "CALSTATE", "SWPVALID", "OBSMODE")
  }

  /** runAll's rows for each file, sorted by pos (its product is
    * unordered), and run() on that file alone, in its own pos order, equal
    * the reference's reduction of that file (no rows for a file the filter
    * empties); returns the reference's rows.
    */
  private def assertParity(files: Seq[File]): Map[Int, Seq[(Int, Double, Double)]] = {
    val df = obs(files)
    val p = Spectrum.Params(0, 1)
    val rows = ReferenceReduction.files(df, header)
    val all = Spectrum.runAll(df, header, p)
      .as[(String, Int, Double, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3, r._4)).toSeq.sortBy(_._1)).toMap
    files.indices.map { f =>
      val want = ReferenceReduction.spectrum(rows(f.toString), header, p)
      val single = Spectrum.run(df.filter($"FILE_ID" === f.toString), header, p)
        .as[(Int, Double, Double)].collect().toSeq
      assert(all.getOrElse(f.toString, Seq.empty) == want, s"runAll: file $f diverged")
      assert(single == want, s"run: file $f diverged")
      f -> want
    }.toMap
  }

  test("runAll reproduces run() file-by-file, including the no-off fallback") {
    // the off transition lands at a different row per file; file 2 never
    // transitions (falsy off: total sum, no diff)
    val r = assertParity((0 until 4).map(f => File(i => f != 2 && i >= 10 + 5 * f)))
    assert(r.values.forall(_.nonEmpty))
  }

  test("an off transition at row 0 is falsy: the plain sum, on both paths") {
    // off at row 0, on again, off from row 15; off from the first row F2
    // keeps (rows 0..2 are diode rows), whose ROWIDX is not the file's
    // first; every row off (the ON half is never empty: off at row 0 is no
    // split); and one split file
    val r = assertParity(Seq(
      File(i => i == 0 || i >= 15),
      File(i => i >= 3, cal = i => if (i < 3) 1 else 0),
      File(_ => true),
      File(i => i >= 12)))
    assert(r.values.forall(_.nonEmpty))
  }

  test("a file emptied by the filter yields no rows on both paths") {
    val r = assertParity(Seq(File(i => i >= 12), File(i => i >= 12, cal = _ => 1)))
    assert(r(0).nonEmpty && r(1).isEmpty)
  }

  test("runAll reproduces run() when ROWIDX has gaps behind rows F2 drops") {
    assertParity(Seq(
      File(i => i >= 12, cal = i => if (i < 3 || i % 7 == 5) 1 else 0, ridx = i => 7L * i + 2),
      File(i => i >= 20, ridx = i => 1000L - 30 + i * i)))
  }
}
