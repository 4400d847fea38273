package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{ArrayOps, VectorSum}
import graft.model.HeaderRecord
import graft.model.HeaderRecord.Header
import graft.ops._

/** Entry point 3 — the spectrum reduction (ref spectrum.py:46-71):
  * F1+F2 filter → optional F6/F7 → ST1 off-transition index → A2 time-axis
  * integration (ON and OFF halves for onoff files) → A10 difference.
  * Returns one row per channel: (pos, frequency, intensity).
  *
  * One implementation: [[runAll]] reduces each file of its input, and
  * [[run]] is [[runAll]] over one observation. The A2 aggregate sums
  * vectors map-side ([[graft.functions.VectorSum]], over `fillNulls` of the
  * NaN-masked DATA, both native loops), so a shuffle carries one array per
  * partition, not n_rows × n_channels exploded rows.
  */
object Spectrum {

  final case class Params(
      ifnum: Int,
      plnum: Int,
      includeFreq: Seq[(Double, Double)] = Nil,
      excludeFreq: Seq[(Double, Double)] = Nil,
      includeTime: Seq[(Double, Double)] = Nil,
      excludeTime: Seq[(Double, Double)] = Nil)

  /** The reference's per-file reduction: [[runAll]] with every row under
    * one file key, so the whole input is reduced as ONE observation, as the
    * reference reads one file. Returns (pos, frequency, intensity) ordered
    * by pos, sorted in one partition: one spectrum needs no range exchange.
    */
  def run(df: DataFrame, header: Header, p: Params): DataFrame =
    runAll(df.withColumn("FILE_ID", lit("0")), header, p)
      .select(col("pos"), col("frequency"), col("intensity"))
      .coalesce(1)
      .orderBy(col("pos"))

  /** Spectra for N files in ONE job chain, with no position window and no
    * checkpoint. The per-file off threshold is a ROWIDX aggregate over the
    * slim flag columns (DATA pruned), broadcast-joined back; the ON and OFF
    * vector sums are two conditional sums in ONE groupBy(FILE_ID)
    * aggregate with map-side partial whole-array sums.
    * Output: one row per (FILE_ID, pos), unordered.
    *
    * Jobs: the off thresholds' broadcast and the collect, 2. Over a stamped
    * SDFITS directory neither aggregate exchanges; otherwise each adds a
    * shuffle. To order the rows, `sortWithinPartitions` over a stamped
    * directory adds no exchange; an `orderBy` there samples its input in a
    * job that reruns the scan and decodes DATA a second time.
    */
  def runAll(df: DataFrame, header: Header, p: Params): DataFrame = {
    var d = df.filter(
      col("IFNUM") === p.ifnum && col("PLNUM") === p.plnum &&
      col("CALSTATE") === 0 && col("SWPVALID") === 0)
    d = RangeFilters.filterTimeRanges(d, lit(header.date), p.includeTime, p.excludeTime)
    val fr = HeaderRecord.frequencyRange(header, p.ifnum)
    val axis = ArrayOps.freqAxis(fr.high, fr.low, fr.channelCount)
    val (freqs, d2) = RangeFilters.filterFrequencyRanges(d, axis, p.includeFreq, p.excludeFreq)

    // The spectrum path needs no row POSITIONS at all (r14, the sf10
    // certificate's lesson): the per-file off index was only ever compared
    // — `off_start === 0` and `__pos < off_start` — and positions are
    // ranks of the unique per-file ROWIDX, so every comparison rewrites to
    // a ROWIDX threshold: "off index exists" = min off-ROWIDX non-null,
    // "off index is 0" = min off-ROWIDX equals the file's first ROWIDX,
    // "row before the off transition" = ROWIDX < min off-ROWIDX. That
    // removes the per-file window (whose parallelism scaled with file
    // COUNT — 20× for 10× data on the 4-file fixture) AND the wide
    // checkpoint (93 s materializing 60M DATA arrays at sf10): the frame
    // is evaluated twice, but the offs side prunes to three slim columns
    // and every aggregate is evaluation-order-independent, so no
    // materialization is needed for determinism.
    val slim = d2.withColumn("FILE_ID", col("FILE_ID").cast("string"))
      .select(col("FILE_ID"), col("ROWIDX").cast("long").as("ROWIDX"),
        col("DATA"), col("OBSMODE"))

    // Per-file thresholds (spectrum form of the off index): a parallel
    // groupBy aggregate, not the sequential per-file state machine (which
    // only dataStart/postCal need, and the spectrum path reads neither). Null off threshold when the header isn't onoff or
    // the file has no off rows, like CalIndices.off.
    val offs =
      if (header.obsmode == "onoff")
        slim.groupBy(col("FILE_ID"))
          .agg(min(col("ROWIDX")).as("__first_row"),
            min(when(col("OBSMODE").contains("onoff:off"), col("ROWIDX")))
              .as("__off_row"))
      else
        slim.groupBy(col("FILE_ID"))
          .agg(min(col("ROWIDX")).as("__first_row"),
            first(lit(null).cast("long")).as("__off_row"))

    // ONE aggregate per file: the ON and OFF halves are two conditional
    // vector sums over the NaN-masked DATA with its nulls filled by 0.0
    // (the vector sum skips the null rows the `when` leaves). A
    // file WITHOUT a real off index (Python truthiness, ref spectrum.py:62:
    // off index 0 or absent) returns its plain sum; a file WITH one returns
    // on−off. Neither half of a split file is empty (its first row is ON,
    // its first off row OFF), so the difference needs no emptiness test.
    val split = !(col("__off_row").isNull || col("__off_row") === col("__first_row"))
    val on = !split || col("ROWIDX") < col("__off_row")
    val data = ArrayOps.fillNulls(col("DATA"))
    val spec = slim
      .join(broadcast(offs), "FILE_ID")
      .groupBy(col("FILE_ID"))
      .agg(
        VectorSum.vecSum(when(on, data)).as("s_on"),
        VectorSum.vecSum(when(!on, data)).as("s_off"),
        first(split).as("__split"))
      .select(col("FILE_ID"),
        when(!col("__split"), col("s_on"))
          .otherwise(ArrayOps.vecDiff(col("s_on"), col("s_off"))).as("spectrum"))

    val freqLit = array(freqs.map(lit(_)).toIndexedSeq: _*)
    spec.select(col("FILE_ID"), posexplode(col("spectrum")).as(Seq("pos", "intensity")))
      .withColumn("frequency", element_at(freqLit, col("pos") + 1))
      .select(col("FILE_ID"), col("pos"), col("frequency"), col("intensity"))
  }
}
