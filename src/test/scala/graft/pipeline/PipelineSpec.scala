package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.model.HeaderRecord
import graft.sources.{Corruption, VerifiedRead}

/** Golden end-to-end tests over an observation-shaped fixture with a known
  * injected source and diode spikes — the reference's main.py:13-64 path
  * (validate → continuum → spectrum) — plus the S2/S4 corruption round trip.
  */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private val header = HeaderRecord.Header(
    date = java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
    obsmode = "onoff",
    obsfreq = 1400.0,
    obsbw = 80.0,
    history = HeaderRecord.parseHistory(Seq(
      "DATAMODE HIRES",
      "START,STOP channels 0_3",
      "HIRES bands  1355, 1435")))

  /** 64-row single-file observation: pre-cal spike rows [0,16) (8 diode-on at
    * level 2.0/chan, 8 diode-off at 0.5/chan), science rows [16,48) at
    * 1.0/chan, post-cal rows [48,64) (8 off, 8 on). Flat levels make every
    * fit exact: A8 heights = (8−2, 0) on both sides.
    */
  private def obs: DataFrame = {
    val rows = (0 until 64).map { i =>
      val (cal, swp, level) =
        if (i < 8) (1, 0, 2.0)
        else if (i < 16) (0, 0, 0.5)
        else if (i < 48) (0, 1, 1.0)
        else if (i < 56) (0, 0, 0.5)
        else (1, 0, 2.0)
      ("0", i.toLong, java.sql.Timestamp.valueOf(s"2024-01-01 00:0${i / 60}:${"%02d".format(i % 60)}"),
        Seq.fill(4)(level), 0, 1, cal, swp,
        if (i < 32) "onoff:on" else "onoff:off", 1.0)
    }
    rows.toDF("FILE_ID", "ROWIDX", "DATE_OBS", "DATA", "IFNUM", "PLNUM",
      "CALSTATE", "SWPVALID", "OBSMODE", "TSYS")
  }

  test("golden continuum: data window divided by the flat calibration height") {
    val out = Continuum.run(obs, header, Continuum.Params(ifnum = 0, plnum = 1))
      .as[(Double, Double)].collect()
    // ST1: data_start=16, post_cal_start=48. A8 pre: on=4*2=8, off=4*0.5=2 →
    // delta=6, sd=0 (flat). post identical → z=0/0=NaN → mean-height branch →
    // every science intensity 4*1/6.
    assert(out.length == 32)
    assert(out.map(_._1).toSeq == (16 until 48).map(_.toDouble))
    assert(out.forall(_._2 == 4.0 / 6.0))
  }

  test("golden spectrum: ON minus OFF per channel with the descending axis") {
    // Spectrum keeps CALSTATE=0 && SWPVALID=0 rows: 8 off-spike rows at 0.5
    // (rows 8-15, obsmode on) + 8 post-cal off rows (48-55, obsmode off).
    // off_start = first 'onoff:off' in that filtered set (pos 8) →
    // ON sum = 8*0.5 = 4, OFF sum = 4 → diff 0 per channel.
    val out = Spectrum.run(obs, header, Spectrum.Params(ifnum = 0, plnum = 1))
      .as[(Int, Double, Double)].collect()
    assert(out.length == 4)
    assert(out.map(_._1).toSeq == Seq(0, 1, 2, 3))
    assert(out.map(_._2).toSeq == Seq(1395.0, 1395.0 - 80.0 / 3, 1395.0 - 2 * 80.0 / 3, 1315.0))
    assert(out.forall(_._3 == 0.0))
  }

  test("golden validate: mask, non-negativity filter, crop compose lazily") {
    val dirty = obs
      .withColumn("DATA", when($"ROWIDX" === 20,
        array(lit(Double.NaN), lit(1.0), lit(1.0), lit(1.0))).otherwise($"DATA"))
      .withColumn("TSYS", when($"ROWIDX" === 21, -1.0).otherwise($"TSYS"))
    val out = Validate.run(dirty, header.copy(history = HeaderRecord.parseHistory(Seq(
        "DATAMODE HIRES", "START,STOP channels 1_2", "HIRES bands  1355, 1435"))))
    val rows = out.select($"ROWIDX", $"DATA").as[(Long, Seq[Option[Double]])].collect().toMap
    assert(!rows.contains(21L))           // negative TSYS row dropped (F4)
    assert(rows(20L) == Seq(Some(1.0), Some(1.0))) // NaN was chan 0; crop kept 1..2
    assert(rows(17L) == Seq(Some(1.0), Some(1.0)))
    assert(rows.size == 63)
  }

  test("S3: staged write materializes the validated stage at {base}_validated") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-s3").toString
    val base = s"$tmp/obs.parquet"
    obs.write.mode("overwrite").parquet(base)
    val h = header.copy(history = HeaderRecord.parseHistory(Seq(
      "DATAMODE HIRES", "START,STOP channels 1_2", "HIRES bands  1355, 1435")))
    val out = Staged.validateStage(spark, base, h)
    assert(out == s"$tmp/obs_validated.parquet")
    val back = spark.read.parquet(out)
    assert(back.count() == 64)
    assert(back.select($"DATA").as[Seq[Double]].head().length == 2) // cropped to channels 1..2
  }

  test("S2/S4: verified read accepts the true schema and rejects corruption") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-s2").toString
    val base = s"$tmp/obs.parquet"
    obs.write.mode("overwrite").parquet(base)
    val schema = obs.schema

    assert(VerifiedRead.parquet(spark, base, schema).count() == 64)

    val dropped = Corruption.writeDroppedColumn(spark.read.parquet(base), base, "SWPVALID")
    assert(dropped == s"$tmp/obs_corrupted.parquet")
    intercept[VerifiedRead.SchemaViolation] {
      VerifiedRead.parquet(spark, dropped, schema)
    }

    val retyped = Corruption.writeRetypedColumn(spark.read.parquet(base), base, "CALSTATE")
    intercept[VerifiedRead.SchemaViolation] {
      VerifiedRead.parquet(spark, retyped, schema)
    }
  }

  test("Pipeline.run composes validate → (atmosphere) → continuum + spectrum") {
    // atmosphere off (the reference driver default): equal to the explicit
    // stage composition, product by product.
    val r = Pipeline.run(obs, header, ifnum = 0, plnum = 1)
    assert(r.continuum.collect().toSeq ==
      Continuum.run(Validate.run(obs, header), header, Continuum.Params(0, 1)).collect().toSeq)
    assert(r.spectrum.collect().toSeq ==
      Spectrum.run(Validate.run(obs, header), header, Spectrum.Params(0, 1)).collect().toSeq)

    // atmosphere on: equal to the explicit Atmosphere.correct composition
    // over the header-derived GHz axis.
    val withWeather = obs
      .withColumn("ELEVATIO", lit(45.0)).withColumn("TAMBIENT", lit(15.0))
      .withColumn("PRESSURE", lit(1013.0)).withColumn("HUMIDITY", lit(50.0))
    val rAtm = Pipeline.run(withWeather, header, ifnum = 0, plnum = 1, atmosphere = true)
    val fr = HeaderRecord.frequencyRange(header, 0)
    val axisGHz = graft.functions.ArrayOps
      .freqAxis(fr.high, fr.low, fr.channelCount).map(_ / 1000.0)
    val expected = Continuum.run(
      graft.ops.Atmosphere.correct(Validate.run(withWeather, header), axisGHz),
      header, Continuum.Params(0, 1)).collect()
    assert(rAtm.continuum.collect().toSeq == expected.toSeq)
  }

  test("Pipeline.runAll reproduces Pipeline.run file-by-file") {
    // Two copies of the single-file observation under different FILE_IDs.
    val two = obs.union(obs.withColumn("FILE_ID", lit("1")))
    val all = Pipeline.runAll(two, header, ifnum = 0, plnum = 1)
    val single = Pipeline.run(obs, header, ifnum = 0, plnum = 1)

    val perFileCont = all.continuum.as[(String, Double, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).sortBy(_._1).toSeq).toMap
    val expectedCont = single.continuum.as[(Double, Double)].collect().toSeq
    assert(perFileCont.keySet == Set("0", "1"))
    assert(perFileCont("0") == expectedCont && perFileCont("1") == expectedCont)

    val perFileSpec = all.spectrum.as[(String, Int, Double, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3, r._4)).sortBy(_._1).toSeq).toMap
    val expectedSpec = single.spectrum.as[(Int, Double, Double)].collect().toSeq
    assert(perFileSpec("0") == expectedSpec && perFileSpec("1") == expectedSpec)
  }

  test("Pipeline.runAll issues the same number of jobs for 2 and 100 files") {
    val rows = obs.collect()
    def jobs(n: Int): Int = {
      val many = spark.createDataFrame(java.util.Arrays.asList((0 until n).flatMap(f =>
        rows.map(r => org.apache.spark.sql.Row.fromSeq(f.toString +: r.toSeq.tail))): _*),
        obs.schema)
      jobsOf {
        val all = Pipeline.runAll(many, header, ifnum = 0, plnum = 1)
        all.continuum.queryExecution.toRdd.foreach(_ => ())
        all.spectrum.queryExecution.toRdd.foreach(_ => ())
        spark.catalog.clearCache()
      }
    }
    val (j2, j100) = (jobs(2), jobs(100))
    assert(j2 > 0 && j2 == j100, s"jobs at 2 files: $j2, at 100 files: $j100")
  }
}
