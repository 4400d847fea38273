package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.util.control.Breaks.{break, breakable}

/** ST1 — calibration-spike locator (ref utils.py:126-214), the one operator
  * whose semantics are inherently order-dependent.
  *
  * Design for scale: the state machine is sequential *within one file* (a few
  * thousand rows) but embarrassingly parallel *across files*. [[scanPerFile]]
  * therefore groups by FILE_ID and runs the exact scalar scan per group —
  * only the three flag columns + row index are shuffled (the wide `DATA`
  * array is pruned away by Catalyst), so at 100 TB the shuffle carries a few
  * bytes per row. A global window/sort formulation would serialize the whole
  * table through one ordering for no benefit.
  *
  * [[scan]] is a literal port of the reference's quirks, pinned by tests:
  *  - `data_start_ind` truthiness (index 0 never triggers the counter reset,
  *    ref utils.py:171);
  *  - the valid-row counter never resets across abandoned starts
  *    (ref utils.py:165-173);
  *  - post-cal candidate resets on every non-matching row so mid-observation
  *    blips don't count (ref utils.py:160-163);
  *  - `if not post_cal_start_ind` truthiness: a post-cal start at index 0 is
  *    replaced by `len−1` (ref utils.py:200-201);
  *  - fallback rescan when no pre-cal spike exists (ref utils.py:180-198).
  */
object CalibrationScan {

  /** Flag triple per row, in time order. */
  final case class Flags(calstate: Int, swpvalid: Int, obsmode: String)

  /** The three indices the reference returns (ref utils.py:214). */
  final case class CalIndices(dataStart: Option[Int], postCalStart: Int, offStart: Option[Int])

  /** Exact scalar port of `find_calibrations` (ref utils.py:126-214). */
  def scan(rows: IndexedSeq[Flags], channelCount: Long, headerObsmode: String): CalIndices = {
    var dataStart: Option[Int] = None
    var postCal: Option[Int] = None
    var counter = 0L
    var calStarted = false
    var preCalComplete = false

    breakable {
      var ind = 0
      while (ind < rows.length) {
        val r = rows(ind)
        if (r.calstate == 1) calStarted = true
        if (calStarted && r.calstate == 0 && r.swpvalid == 1 && !preCalComplete) {
          dataStart = Some(ind); preCalComplete = true
        }
        if (ind > 0 && preCalComplete && r.swpvalid == 0 && rows(ind - 1).swpvalid == 0) {
          if (postCal.isEmpty) postCal = Some(ind - 1)
        } else postCal = None
        if (preCalComplete && r.calstate == 0 && r.swpvalid == 1) counter += 1
        // Literal truthiness port: Python `and data_start_ind` is false for
        // both None and 0 (ref utils.py:171).
        if (counter <= 3 * channelCount && r.swpvalid == 0 && dataStart.exists(_ != 0)) {
          dataStart = None; preCalComplete = false
        }
        if (preCalComplete && r.swpvalid == 0 && r.calstate == 1) break()
        ind += 1
      }
    }

    // Fallback: no pre-cal spike found — data starts at row 0, rescan for the
    // post-cal run only (ref utils.py:180-198). postCal is already None here:
    // the first pass's else-reset fired on every row while preCalComplete was
    // false.
    if (!preCalComplete) {
      dataStart = Some(0)
      breakable {
        var ind = 0
        while (ind < rows.length) {
          val r = rows(ind)
          if (ind > 0 && r.swpvalid == 0 && rows(ind - 1).swpvalid == 0) {
            if (postCal.isEmpty) postCal = Some(ind - 1)
          } else postCal = None
          if (r.swpvalid == 0 && r.calstate == 1) break()
          ind += 1
        }
      }
    }

    // `if not post_cal_start_ind` — None OR 0 both fall back to len−1
    // (ref utils.py:200-201).
    val postCalFinal = postCal.filter(_ != 0).getOrElse(rows.length - 1)

    // off_start_index: first row whose OBSMODE contains 'onoff:off', only for
    // onoff-mode files (ref utils.py:203-212).
    val offStart =
      if (headerObsmode == "onoff") {
        val j = indexWhereContains(rows)
        if (j < 0) None else Some(j)
      } else None

    CalIndices(dataStart, postCalFinal, offStart)
  }

  private def indexWhereContains(rows: IndexedSeq[Flags]): Int = {
    var i = 0
    while (i < rows.length) {
      val m = rows(i).obsmode
      if (m != null && m.contains("onoff:off")) return i
      i += 1
    }
    -1
  }

  /** [[scan]] of a single-file frame in ROWIDX order, with [[scanPerFile]]
    * mechanics: the flag rows never leave the executors — the per-file scan
    * reduces them to ONE row and only that row is collected, instead of
    * shipping O(rows) flag tuples through the driver (the round-6 bench
    * measured a driver-side collect at ~15 s cold on a 600k-row fixture).
    */
  def scanSingleFileDistributed(
      df: DataFrame,
      channelCount: Long,
      headerObsmode: String): CalIndices = {
    val r = scanPerFile(df, "ROWIDX", lit(channelCount), headerObsmode)
      .select(col("data_start"), col("post_cal_start"), col("off_start"))
      .collect()
    if (r.isEmpty) scan(Vector.empty, channelCount, headerObsmode)
    else {
      require(r.length == 1, s"scanSingleFileDistributed: ${r.length} files in frame")
      val row = r(0)
      CalIndices(
        if (row.isNullAt(0)) None else Some(row.getLong(0).toInt),
        row.getLong(1).toInt,
        if (row.isNullAt(2)) None else Some(row.getLong(2).toInt))
    }
  }

  /** One-pass streaming form of [[scan]] — same CalIndices for any input
    * (CalibrationScanSpec pins equivalence on the quirk fixtures and
    * random sequences), with O(1) state instead of a materialized row
    * array: the main machine and the fallback-rescan machine run
    * SIMULTANEOUSLY (the fallback's result is simply discarded when the
    * main machine completes pre-cal), `rows(ind−1)` becomes a
    * previous-value register, and the reference's `break` becomes a freeze
    * flag (the iterator is still drained for the row count and off-start
    * scan, which the reference reads after its loop anyway).
    */
  def scanStreaming(
      rows: Iterator[Flags],
      channelCount: Long,
      headerObsmode: String): CalIndices = {
    // main machine (ref utils.py:126-178)
    var dataStart: Option[Int] = None
    var postCal: Option[Int] = None
    var counter = 0L
    var calStarted = false
    var preCalComplete = false
    var frozen = false
    var prevSwp = -1
    // fallback machine (ref utils.py:180-198), used only if pre-cal never
    // completes
    var fbPostCal: Option[Int] = None
    var fbFrozen = false
    var fbPrevSwp = -1
    var offStart = -1
    var ind = 0
    while (rows.hasNext) {
      val r = rows.next()
      if (!frozen) {
        if (r.calstate == 1) calStarted = true
        if (calStarted && r.calstate == 0 && r.swpvalid == 1 && !preCalComplete) {
          dataStart = Some(ind); preCalComplete = true
        }
        if (ind > 0 && preCalComplete && r.swpvalid == 0 && prevSwp == 0) {
          if (postCal.isEmpty) postCal = Some(ind - 1)
        } else postCal = None
        if (preCalComplete && r.calstate == 0 && r.swpvalid == 1) counter += 1
        if (counter <= 3 * channelCount && r.swpvalid == 0 && dataStart.exists(_ != 0)) {
          dataStart = None; preCalComplete = false
        }
        if (preCalComplete && r.swpvalid == 0 && r.calstate == 1) frozen = true
        prevSwp = r.swpvalid
      }
      if (!fbFrozen) {
        if (ind > 0 && r.swpvalid == 0 && fbPrevSwp == 0) {
          if (fbPostCal.isEmpty) fbPostCal = Some(ind - 1)
        } else fbPostCal = None
        if (r.swpvalid == 0 && r.calstate == 1) fbFrozen = true
        fbPrevSwp = r.swpvalid
      }
      if (offStart < 0 && r.obsmode != null && r.obsmode.contains("onoff:off")) offStart = ind
      ind += 1
    }
    if (!preCalComplete) { dataStart = Some(0); postCal = fbPostCal }
    val postCalFinal = postCal.filter(_ != 0).getOrElse(ind - 1)
    val off =
      if (headerObsmode == "onoff" && offStart >= 0) Some(offStart) else None
    CalIndices(dataStart, postCalFinal, off)
  }

  /** Scale path: one scan per file, parallel across files. Input needs
    * FILE_ID, the order column `orderCol` (ROWIDX, or the post-filter
    * positional `__pos` the continuum reduction scans by) and the three
    * flag columns; everything else is pruned before the shuffle. `cc` is the
    * interleave factor, constant within a file (a literal, or the per-file
    * A3 aggregate joined on) and read off each file's first row. Returns one
    * row per file with the three indices.
    *
    * Mechanics: secondary sort — `repartition(FILE_ID)` +
    * `sortWithinPartitions(FILE_ID, orderCol)` puts each file's rows
    * consecutive and ordered (Spark's spillable external sort), then one
    * `mapPartitions` runs [[scanStreaming]] per file, cutting on key
    * change — the same shape as `SdfitsWriter.writeObservations`. No
    * per-group row array is ever materialized (the former
    * `groupByKey.mapGroups` held each file's flags in memory to sort
    * them — the engine's only per-group in-memory sort, VERDICT r8).
    */
  def scanPerFile(
      df: DataFrame,
      orderCol: String,
      cc: Column,
      headerObsmode: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
        col("FILE_ID").cast("string"),
        col(orderCol).cast("long"),
        col("CALSTATE").cast("int"),
        col("SWPVALID").cast("int"),
        col("OBSMODE").cast("string"),
        cc.cast("long"))
      .repartition(col("FILE_ID"))
      .sortWithinPartitions(col("FILE_ID"), col(orderCol))
      .as[(String, Long, Int, Int, String, Long)]
      .mapPartitions { it =>
        val rows = it.buffered
        def box(o: Option[Int]): java.lang.Long =
          o.map(i => java.lang.Long.valueOf(i.toLong)).orNull
        new Iterator[(String, java.lang.Long, Long, java.lang.Long)] {
          def hasNext: Boolean = rows.hasNext
          def next(): (String, java.lang.Long, Long, java.lang.Long) = {
            val file = rows.head._1
            val cc = rows.head._6
            val fileRows = new Iterator[Flags] {
              def hasNext: Boolean = rows.hasNext && rows.head._1 == file
              def next(): Flags = { val t = rows.next(); Flags(t._3, t._4, t._5) }
            }
            val r = scanStreaming(fileRows, cc, headerObsmode)
            (file, box(r.dataStart), r.postCalStart.toLong, box(r.offStart))
          }
        }
      }
      .toDF("FILE_ID", "data_start", "post_cal_start", "off_start")
  }
}
