package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.sources.sdfits.SdfitsWriter
import graft.sources.sdfits.SdfitsWriter.Header

/** Byte-level SDFITS write API (the reference's output half, ref
  * utils.py:216-237): DataFrame → real FITS file → `format("sdfits")`
  * round trip, staged naming, parallel multi-observation writes, and the
  * loud failure modes (ragged vectors).
  */
class SdfitsWriterSpec extends SparkTestBase {
  import spark.implicits._

  private def frame(n: Int) =
    spark.range(n).select(
      col("id").as("rowkey"),
      array(col("id").cast("double"), (col("id") * 2).cast("double"),
        lit(0.5)).as("data"),
      (col("id") % 3).cast("int").as("ifnum"),
      concat(lit("tag"), (col("id") % 4).cast("string")).as("obsmode"))

  test("writeObservation → connector round trip preserves values, order, types") {
    val dir = Files.createTempDirectory("graft-sw").toFile
    val path = s"$dir/obs.fits"
    // shuffle the input so the writer's sort is what pins row order
    val n = SdfitsWriter.writeObservation(
      frame(37).orderBy(col("ifnum")), Seq("rowkey"), path,
      Header(values = Seq("OBSFREQ" -> "1400.0"),
        stringValues = Seq("DATE" -> "2024-01-01T00:00:00", "OBSMODE" -> "onoff")))
    assert(n == 37)
    val back = spark.read.format("sdfits").load(path)
    assert(back.schema.fieldNames.toSeq == Seq("rowkey", "data", "ifnum", "obsmode"))
    val rows = back.select($"rowkey", element_at($"data", 2).as("d2"), $"ifnum", $"obsmode")
      .as[(Long, Double, Int, String)].collect().toSeq
    assert(rows == (0 until 37).map(i =>
      (i.toLong, 2.0 * i, i % 3, s"tag${i % 4}")), "row order = sortCols order")
  }

  test("writeStaged uses {base}_{process}{ext} naming (C11)") {
    val dir = Files.createTempDirectory("graft-sw-staged").toFile
    val out = SdfitsWriter.writeStaged(frame(5), Seq("rowkey"),
      s"$dir/scan7.fits", "calibrated", Header())
    assert(out == s"$dir/scan7_calibrated.fits")
    assert(spark.read.format("sdfits").load(out).count() == 5)
  }

  test("writeObservations: one file per key, written in parallel, manifest matches") {
    val dir = Files.createTempDirectory("graft-sw-multi").toFile
    val df = frame(60).withColumn("obs", concat(lit("f"), (col("rowkey") % 4).cast("string")))
    val manifest = SdfitsWriter.writeObservations(df, "obs", Seq("rowkey"),
      dir.getAbsolutePath, Header()).as[(String, String, Long)].collect().toSeq
    assert(manifest.map(_._1) == Seq("f0", "f1", "f2", "f3"))
    assert(manifest.forall(_._3 == 15))
    manifest.foreach { case (key, path, nRows) =>
      val back = spark.read.format("sdfits").load(path)
      assert(back.count() == nRows)
      // every row in the file carries its own key, in rowkey order
      val keys = back.select($"obs", $"rowkey").as[(String, Long)].collect().toSeq
      assert(keys.map(_._1).forall(_ == key))
      assert(keys.map(_._2) == keys.map(_._2).sorted)
    }
    // all four files read back together through the directory path
    assert(spark.read.format("sdfits").load(dir.getAbsolutePath).count() == 60)
  }

  test("writeObservations rejects non-integral key columns") {
    val df = frame(4).withColumn("obs", col("rowkey").cast("double"))
    val e = intercept[IllegalArgumentException] {
      SdfitsWriter.writeObservations(df, "obs", Seq("rowkey"), "/tmp/unused", Header())
    }
    assert(e.getMessage.contains("string/int/long"))
  }

  test("ragged vector columns fail loudly (FITS repeats are fixed)") {
    val ragged = spark.range(4).select(col("id").as("k"),
      when(col("id") % 2 === 0, array(lit(1.0), lit(2.0)))
        .otherwise(array(lit(1.0))).as("v"))
    val e = intercept[IllegalArgumentException] {
      SdfitsWriter.colSpecsAndCount(ragged)
    }
    assert(e.getMessage.contains("ragged"))
  }

  test("a boolean column is rejected by both write surfaces with one message") {
    val df = frame(4).withColumn("flag", col("rowkey") % 2 === 0)
    def rootMessage(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last.getMessage
    val viaWriter = intercept[IllegalArgumentException] {
      SdfitsWriter.writeObservation(df, Seq("rowkey"), "/tmp/unused.fits", Header())
    }.getMessage
    val dir = Files.createTempDirectory("graft-sw-bool").toFile.getAbsolutePath + "/obs"
    val viaDsv2 = rootMessage(intercept[Exception] {
      df.write.format("sdfits").mode("append").save(dir)
    })
    assert(viaWriter.contains("cannot encode boolean (supported: "), viaWriter)
    assert(viaDsv2 == viaWriter)
  }

  test("DSv2 write: df.write.format(sdfits) round-trips, one file per partition") {
    val dir = Files.createTempDirectory("graft-sw-dsv2").toFile.getAbsolutePath + "/obs"
    frame(40).repartition(3).sortWithinPartitions(col("rowkey"))
      .write.format("sdfits")
      .option("header.OBSFREQ", "1400.0")
      .option("sheader.OBSMODE", "onoff")
      .option("history.0", "DATAMODE LOWRES / x")
      .mode("append").save(dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".fits"))
    assert(files.length == 3, s"one file per non-empty partition: ${files.toSeq}")
    assert(files.forall(f => !f.getName.contains("inprogress")))
    val back = spark.read.format("sdfits").load(dir)
    assert(back.count() == 40)
    assert(back.select(sum($"rowkey")).head().getLong(0) == (0 until 40).sum)
    // header cards made it through the option plumbing
    val h = graft.sources.sdfits.SdfitsFormat.open(
      java.nio.file.Files.readAllBytes(files.head.toPath))._1
    assert(h.value("OBSFREQ").contains("1400.0") && h.value("OBSMODE").contains("onoff"))
    assert(h.history == Seq("DATAMODE LOWRES / x"))

    // overwrite replaces the previous observation set
    frame(10).repartition(1)
      .write.format("sdfits").mode("overwrite").save(dir)
    assert(spark.read.format("sdfits").load(dir).count() == 10)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".fits")) == 1)
  }

  test("DSv2 append is additive: two jobs into one directory keep both file sets") {
    val dir = Files.createTempDirectory("graft-sw-append").toFile.getAbsolutePath + "/obs"
    frame(12).repartition(2).write.format("sdfits").mode("append").save(dir)
    frame(8).repartition(2).write.format("sdfits").mode("append").save(dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".fits"))
    assert(files.length == 4, s"both jobs' files survive: ${files.toSeq}")
    assert(spark.read.format("sdfits").load(dir).count() == 20)
  }

  test("writeObservations disambiguates keys that sanitize to the same name") {
    val dir = Files.createTempDirectory("graft-sw-collide").toFile
    val df = frame(8).withColumn("obs",
      when(col("rowkey") % 2 === 0, lit("a b")).otherwise(lit("a_b")))
    val manifest = SdfitsWriter.writeObservations(df, "obs", Seq("rowkey"),
      dir.getAbsolutePath, Header()).as[(String, String, Long)].collect().toSeq
    assert(manifest.map(_._2).distinct.size == 2, s"distinct paths: $manifest")
    manifest.foreach { case (key, path, nRows) =>
      val back = spark.read.format("sdfits").load(path)
      assert(back.count() == nRows)
      assert(back.select($"obs").as[String].collect().forall(_ == key),
        s"file $path holds only key '$key'")
    }
  }

  test("writeObservations rejects null file keys up front") {
    val df = frame(4).withColumn("obs",
      when(col("rowkey") === 0, lit(null).cast("string")).otherwise(lit("ok")))
    val e = intercept[IllegalArgumentException] {
      SdfitsWriter.writeObservations(df, "obs", Seq("rowkey"), "/tmp/unused", Header())
    }
    assert(e.getMessage.contains("null"))
  }

  test("reading an existing-but-fileless directory fails like a missing one") {
    val dir = Files.createTempDirectory("graft-sw-empty").toFile.getAbsolutePath
    val e = intercept[Exception] {
      spark.read.format("sdfits").load(dir).count()
    }
    assert(e.getMessage != null && e.getMessage.contains("no input files"),
      s"got: ${e.getMessage}")
  }

  test("string width and float vectors derive from the data") {
    val dir = Files.createTempDirectory("graft-sw-types").toFile
    val df = spark.range(6).select(
      col("id").cast("int").as("j"),
      col("id").as("k"),
      col("id").cast("double").as("d"),
      col("id").cast("float").as("e"),
      array(col("id").cast("float"), lit(1.5f)).as("ef"),
      concat(lit("s"), col("id")).as("name"))
    val (cols, n) = SdfitsWriter.colSpecsAndCount(df)
    assert(n == 6)
    assert(cols.map(c => (c.name, c.repeat, c.code)) == Seq(
      ("j", 1, 'J'), ("k", 1, 'K'), ("d", 1, 'D'), ("e", 1, 'E'),
      ("ef", 2, 'E'), ("name", 2, 'A')))
    val path = s"$dir/typed.fits"
    SdfitsWriter.writeObservation(df, Seq("k"), path, Header())
    val back = spark.read.format("sdfits").load(path)
      .select($"j", $"k", $"d", $"e", element_at($"ef", 1).as("ef1"), $"name")
      .as[(Int, Long, Double, Float, Float, String)].collect().toSeq
    assert(back == (0 until 6).map(i =>
      (i, i.toLong, i.toDouble, i.toFloat, i.toFloat, s"s$i")))
  }
}
