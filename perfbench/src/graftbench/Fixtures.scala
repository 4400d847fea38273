package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import graft.sources.sdfits.SdfitsWriter

/** One SDFITS row, in the column layout the reference's files carry. */
final case class ObsRow(
    FILE_ID: String, ROWIDX: Long, DATE_OBS: String, DATA: Array[Double],
    IFNUM: Int, PLNUM: Int, CALSTATE: Int, SWPVALID: Int, OBSMODE: String,
    TSYS: Double, ELEVATIO: Double)

object Mix {
  /** SplitMix64 finalizer: the fixtures' only source of randomness. */
  def splitmix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def apply(seed: Long, a: Long, b: Long = 0L, c: Long = 0L, d: Long = 0L): Long =
    splitmix(splitmix(splitmix(splitmix(splitmix(seed) ^ a) ^ b) ^ c) ^ d)
}

/** Seeded single-dish observations with closed-form levels, so every
  * product the pipeline computes can be checked exactly.
  *
  * Per file, rows follow the reference's calibration layout: [0, 8) diode
  * on, [8, 16) diode off, [16, rows - 16) science, [rows - 16, rows - 8)
  * diode off, [rows - 8, rows) diode on; OBSMODE switches from on to off
  * half way. Spike rows are flat per window (a per-channel line profile
  * plus the file's off level, plus the diode step when on), science rows
  * carry per-cell noise. Every value is a multiple of 1/16 and small, so
  * all channel sums are exact in double precision. Odd files get a larger
  * post-calibration diode step, which sends the gain calibration down its
  * drift (interpolated) branch; even files take the mean-height branch.
  * Every 61st science row has a negative TSYS and must be dropped by the
  * validation stage.
  */
final case class RadioFixture(seed: Long, files: Int, rows: Int, channels: Int) {
  require(files >= 1 && rows >= 64 && rows % 2 == 0 && rows < 86400 && channels >= 16,
    s"radio fixture out of range: files=$files rows=$rows channels=$channels")

  val cropStart: Int = channels / 16
  val cropStop: Int = channels - channels / 16 - 1
  val kept: Int = cropStop - cropStart + 1
  def cells: Long = files.toLong * rows * channels

  def fileId(f: Int): String = f"f$f%03d"

  private def m(a: Long, b: Long = 0L, c: Long = 0L, d: Long = 0L): Long = Mix(seed, a, b, c, d)
  def off(f: Int): Double = 1.0 + (m(f, 1) >>> 59) / 8.0
  def diodePre(f: Int): Double = 0.5 + (m(f, 2) >>> 60) / 8.0
  def diodePost(f: Int): Double =
    if (f % 2 == 0) diodePre(f) else diodePre(f) + (1 + (m(f, 3) >>> 62)) / 8.0
  def science(f: Int): Double = 2.0 + (m(f, 4) >>> 60) / 8.0
  def preLine(f: Int, c: Int): Double = (m(f, 5, c) >>> 60) / 16.0
  def postLine(f: Int, c: Int): Double = (m(f, 6, c) >>> 60) / 16.0
  def noise(f: Int, r: Int, c: Int): Double = ((m(f, 7, r, c) >>> 60) - 8) / 16.0
  def dirty(r: Int): Boolean = r >= 17 && r < rows - 17 && r % 61 == 30

  def value(f: Int, r: Int, c: Int): Double =
    if (r < 8) off(f) + preLine(f, c) + diodePre(f)
    else if (r < 16) off(f) + preLine(f, c)
    else if (r < rows - 16) science(f) + noise(f, r, c)
    else if (r < rows - 8) off(f) + postLine(f, c)
    else off(f) + postLine(f, c) + diodePost(f)

  def row(f: Int, r: Int): ObsRow = {
    val (cal, swp) =
      if (r < 8 || r >= rows - 8) (1, 0)
      else if (r < 16 || r >= rows - 16) (0, 0)
      else (0, 1)
    val data = Array.tabulate(channels)(c => value(f, r, c))
    ObsRow(fileId(f), r.toLong, f"2024-01-01T${r / 3600}%02d:${r / 60 % 60}%02d:${r % 60}%02d",
      data, 0, 1, cal, swp, if (r < rows / 2) "onoff:on" else "onoff:off",
      if (dirty(r)) -1.0 else 20.0 + r % 7, 45.0)
  }

  /** Primary header shared by every file: HIRES, 80 MHz about 1355 MHz for
    * IF 0, and the channel crop the validation stage applies.
    */
  val header: SdfitsWriter.Header = SdfitsWriter.Header(
    values = Seq("OBSFREQ" -> "1400.0", "OBSBW" -> "80.0"),
    stringValues = Seq("DATE" -> "2024-01-01T00:00:00", "OBSMODE" -> "onoff"),
    history = Seq(
      "DATAMODE HIRES / data resolution mode",
      s"START,STOP channels  ${cropStart}_$cropStop",
      "HIRES bands  1355, 1435"))

  /** Writes one `obs_<FILE_ID>.fits` per file into `dir` through the
    * program's SDFITS writer; returns the paths in file order.
    */
  def write(spark: SparkSession, dir: String): Seq[String] = {
    import spark.implicits._
    val fx = this
    val n = files.toLong * rows
    val slices = math.max(1, math.min(files * 4, spark.sparkContext.defaultParallelism * 2))
    val frame = spark.range(0L, n, 1L, slices)
      .map(i => fx.row((i / fx.rows).toInt, (i % fx.rows).toInt)).toDF()
    SdfitsWriter.writeObservations(frame, "FILE_ID", Seq("ROWIDX"), dir, header)
      .collect().map(_.getString(1)).toSeq
  }

  /** Continuum (t, intensity) rows and spectrum intensities file `f` must reduce to. */
  def expected(f: Int): (Array[(Double, Double)], Array[Double]) = {
    val sci = (16 until rows - 16).filterNot(dirty)
    val a = kept * diodePre(f)
    val b = kept * diodePost(f)
    val (t1, t2) = (sci.head.toDouble, sci.last.toDouble)
    val cont = sci.map { r =>
      var s = 0.0
      var c = cropStart
      while (c <= cropStop) { s += value(f, r, c); c += 1 }
      val t = r.toDouble
      val h = if (a == b) (a + b) / 2 else a + (b - a) * ((t - t1) / (t2 - t1))
      (t, s / h)
    }.toArray
    val spec = (cropStart to cropStop).map { c =>
      8 * (off(f) + preLine(f, c)) - 8 * (off(f) + postLine(f, c))
    }.toArray
    (cont, spec)
  }

  @transient private lazy val expectedCache =
    scala.collection.mutable.HashMap[Int, (Array[(Double, Double)], Array[Double])]()

  /** None when the products match the closed form, else what differs. */
  def check(f: Int, cont: Array[(Double, Double)], spec: Array[Double]): Option[String] = {
    val (ec, es) = expectedCache.synchronized(expectedCache.getOrElseUpdate(f, expected(f)))
    def close(x: Double, y: Double) = math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
    if (cont.length != ec.length) Some(s"${fileId(f)}: continuum rows ${cont.length}, expected ${ec.length}")
    else if (spec.length != es.length) Some(s"${fileId(f)}: spectrum channels ${spec.length}, expected ${es.length}")
    else {
      val badC = cont.indices.find(i => cont(i)._1 != ec(i)._1 || !close(cont(i)._2, ec(i)._2))
      val badS = spec.indices.find(i => !close(spec(i), es(i)))
      badC.map(i => s"${fileId(f)}: continuum row $i is ${cont(i)}, expected ${ec(i)}")
        .orElse(badS.map(i => s"${fileId(f)}: spectrum channel $i is ${spec(i)}, expected ${es(i)}"))
    }
  }
}

/** Seeded text and embedding corpus with the schemas of the registry's
  * `documents` and `embeddings` tables: documents of 30 to 93 words drawn
  * from a fixed 512-word vocabulary (languages and sources varied by the
  * seed) and unit Gaussian 64-dimensional float embeddings with a label in
  * 0..9. The vocabulary is large enough that two documents share a word
  * trigram only by rare chance, so the near-duplicate graph the dedup
  * queries build is the one the queries plant themselves, and its shape
  * (hence the number of convergence rounds) does not depend on the seed.
  */
final case class Corpus(seed: Long, docs: Int, vecs: Int) {
  require(docs >= 10 && vecs >= 20, s"corpus out of range: docs=$docs vecs=$vecs")

  private val syllables = for (c <- "bdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"
  private val vocab = Array.tabulate(512)(i => syllables(i % 70) + syllables(i / 70 * 7 % 70))
  private val langs = Array("en", "en", "en", "es", "zh", "de", "fr")

  def write(spark: SparkSession, dir: String): Unit = {
    val docRows = (0 until docs).map { i =>
      val h = Mix(seed, 11, i)
      val n = 30 + (h >>> 58).toInt
      val words = (0 until n).map(j => vocab(((Mix(seed, 12, i, j) >>> 1) % vocab.length).toInt))
      val text = words.mkString(" ")
      org.apache.spark.sql.Row(i.toLong, text, langs(((h >>> 20) & 0xffff).toInt % langs.length),
        s"src${i % 20}", text.length.toLong)
    }
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(docRows, 1), docSchema)
      .write.parquet(s"$dir/documents.parquet")

    val vecRows = (0 until vecs).map { i =>
      val g = new java.util.Random(Mix(seed, 13, i))
      val v = Array.fill(64)(g.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      org.apache.spark.sql.Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, g.nextInt(10))
    }
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(vecRows, 1), vecSchema)
      .write.parquet(s"$dir/embeddings.parquet")
  }
}
