package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.ArrayOps
import graft.model.HeaderRecord
import graft.model.HeaderRecord.Header
import graft.ops.{CalibrationScan, GainCal, RangeFilters}
import graft.ops.CalibrationScan.Flags

/** The reference's per-file reductions (ref continuum.py:140-191,
  * spectrum.py:46-71) as scalar, literal ports over one file's collected
  * rows: what the pipeline specs compare [[Continuum.runAll]] and
  * [[Spectrum.runAll]] (and so `run`) against, file by file.
  *
  * Nothing here runs a Spark plan of the products. Each file's rows are a
  * list in ROWIDX order; F1/F2/F6 drop list entries, F7 crops each row's
  * channels, and row positions are list indices after the filters, as the
  * reference's numpy slicing. The scalar pieces are the main code's own:
  * [[CalibrationScan.scan]] (ST1), [[GainCal.heights]] and [[GainCal.gain]]
  * (A8/A9) and [[RangeFilters.keptChannelIndices]] (F7's index list).
  * Sums run in row and channel order; the spectrum fixtures hold
  * integer-valued DATA, so the engine's partial vector sums are exact too.
  */
object ReferenceReduction {

  /** One collected row; `data` holds None for a masked channel. */
  final case class Row(rowidx: Long, t: Double, data: Seq[Option[Double]],
      ifnum: Int, plnum: Int, calstate: Int, swpvalid: Int, obsmode: String)

  /** The rows of each FILE_ID in ROWIDX order, `t` in seconds from the
    * header date (C4, [[RangeFilters.relSeconds]]).
    */
  def files(df: DataFrame, header: Header): Map[String, IndexedSeq[Row]] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("FILE_ID").cast("string"), col("ROWIDX").cast("long"),
        RangeFilters.relSeconds(col("DATE_OBS"), lit(header.date)),
        col("DATA").cast("array<double>"), col("IFNUM").cast("int"), col("PLNUM").cast("int"),
        col("CALSTATE").cast("int"), col("SWPVALID").cast("int"), col("OBSMODE").cast("string"))
      .as[(String, Long, Double, Seq[Option[Double]], Int, Int, Int, Int, String)]
      .collect().toIndexedSeq
      .groupBy(_._1).view
      .mapValues(_.map { case (_, k, t, d, i, p, c, s, m) => Row(k, t, d, i, p, c, s, m) }
        .sortBy(_.rowidx))
      .toMap
  }

  /** F6: exclusive bounds, include ranges OR-ed, exclude ranges AND-NOT-ed. */
  private def inTime(t: Double, include: Seq[(Double, Double)],
      exclude: Seq[(Double, Double)]): Boolean = {
    def in(r: (Double, Double)) = t > r._1 && t < r._2
    (include.isEmpty || include.exists(in)) && !exclude.exists(in)
  }

  /** F7: the header's descending axis and the kept channels, None for all. */
  private def channels(header: Header, ifnum: Int, include: Seq[(Double, Double)],
      exclude: Seq[(Double, Double)]): (Array[Double], Option[Array[Int]]) = {
    val fr = HeaderRecord.frequencyRange(header, ifnum)
    val axis = ArrayOps.freqAxis(fr.high, fr.low, fr.channelCount)
    (axis, RangeFilters.keptChannelIndices(axis, include, exclude))
  }

  private def crop(data: Seq[Option[Double]], kept: Option[Array[Int]]): Seq[Option[Double]] =
    kept.fold(data)(_.toSeq.map(data))

  /** A1: a row's channel sum, masked channels skipped. */
  private def rowSum(data: Seq[Option[Double]]): Double =
    data.foldLeft(0.0)((s, x) => s + x.getOrElse(0.0))

  /** One file's continuum, (t, intensity) in row order. */
  def continuum(rows: IndexedSeq[Row], header: Header, p: Continuum.Params): Seq[(Double, Double)] = {
    // A3 over the whole file, before any filter (continuum.py:24-28)
    val cc = rows.map(_.ifnum).distinct.size.toLong * rows.map(_.plnum).distinct.size
    val (_, kept) = channels(header, p.ifnum, p.includeFreq, p.excludeFreq)
    val d = rows
      .filter(r => r.ifnum == p.ifnum && r.plnum == p.plnum)       // F1
      .filter(r => inTime(r.t, p.includeTime, p.excludeTime))      // F6
    val intensity = d.map(r => rowSum(crop(r.data, kept)))         // F7, A1
    val idx = CalibrationScan.scan(                                // ST1
      d.map(r => Flags(r.calstate, r.swpvalid, r.obsmode)), cc, header.obsmode)
    val dataStart = idx.dataStart.getOrElse(0)
    val postCal = idx.postCalStart
    // A8: the diode rows of the spike windows before and after the data
    val diode = d.indices
      .filter(i => (i < dataStart || i >= postCal) && d(i).swpvalid == 0 &&
        (d(i).calstate == 0 || d(i).calstate == 1))
      .map(i => (i < dataStart, d(i).calstate == 1, d(i).t, intensity(i)))
    val (pre, post) = GainCal.heights(diode)
    // A9 over the data window (continuum.py:171-187)
    val window = (dataStart until postCal.min(d.length)).map(i => (d(i).t, intensity(i)))
    val extent = if (window.isEmpty) None else Some((window.map(_._1).min, window.map(_._1).max))
    val g = GainCal.gain(pre, post, extent, p.strictCompat)
    window.map { case (t, y) =>
      (t, g.mode match {
        case 2 => y / (g.p + (g.q - g.p) * ((t - g.t1) / (g.t2 - g.t1)))
        case 1 => y / g.p
        case _ => y
      })
    }
  }

  /** One file's spectrum, (pos, frequency, intensity) per channel; empty
    * when the filters keep no row.
    */
  def spectrum(rows: IndexedSeq[Row], header: Header, p: Spectrum.Params): Seq[(Int, Double, Double)] = {
    val (axis, kept) = channels(header, p.ifnum, p.includeFreq, p.excludeFreq)
    val freqs = kept.fold(axis)(_.map(axis))
    val d = rows
      .filter(r => r.ifnum == p.ifnum && r.plnum == p.plnum &&
        r.calstate == 0 && r.swpvalid == 0)                         // F1, F2
      .filter(r => inTime(r.t, p.includeTime, p.excludeTime))       // F6
    // A2: channel-wise sums, masked channels as 0 and shorter rows padded
    def vecSum(rs: Seq[Row]): Seq[Double] = {
      val data = rs.map(r => crop(r.data, kept).map(_.getOrElse(0.0)))
      val n = if (data.isEmpty) 0 else data.map(_.length).max
      (0 until n).map(c => data.foldLeft(0.0)((s, x) => s + (if (c < x.length) x(c) else 0.0)))
    }
    val off = CalibrationScan.scan(                                // ST1's off index
      d.map(r => Flags(r.calstate, r.swpvalid, r.obsmode)), 1L, header.obsmode).offStart
    val spec: Seq[Double] =
      if (d.isEmpty) Nil
      else off.filter(_ != 0) match { // Python truthiness: index 0 is no split (spectrum.py:62)
        case Some(o) =>                                             // A10: ON − OFF
          val (on, offs) = (vecSum(d.take(o)), vecSum(d.drop(o)))
          on.zip(offs).map { case (a, b) => a - b }
        case None => vecSum(d)
      }
    spec.zipWithIndex.map { case (y, c) => (c, freqs(c), y) }
  }
}
