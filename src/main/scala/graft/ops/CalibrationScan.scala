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
  * bytes per row, and over input already grouped by file nothing is
  * shuffled. A global window/sort formulation would serialize the whole
  * table through one ordering for no benefit. `Continuum.runAll` is its one
  * caller in the reduction; `Continuum.run` is `runAll` over one
  * observation, so a single file is the one-group case of the same scan.
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

  /** The three flags of one row, in time order, and its ROWIDX (read only
    * by [[scanStreaming]], which reports the ROWIDX its indices point at).
    */
  final case class Flags(calstate: Int, swpvalid: Int, obsmode: String, rowidx: Long = 0L)

  /** The three indices the reference returns (ref utils.py:214). */
  final case class CalIndices(dataStart: Option[Int], postCalStart: Int, offStart: Option[Int])

  /** [[CalIndices]] plus the ROWIDX of the row at the data start (row 0 when
    * there is none) and at the post-cal start. A multi-file consumer
    * compares ROWIDX against these instead of numbering rows: a row's index
    * is the rank of its ROWIDX in the file, so `index < dataStart` holds
    * exactly when `ROWIDX < dataStartRowidx`. Undefined for an empty input.
    */
  final case class KeyedIndices(idx: CalIndices, dataStartRowidx: Long, postCalRowidx: Long)

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

  /** One-pass streaming form of [[scan]] — same CalIndices for any input
    * (CalibrationScanSpec pins equivalence on the quirk fixtures and
    * random sequences), with O(1) state instead of a materialized row
    * array: the main machine and the fallback-rescan machine run
    * SIMULTANEOUSLY (the fallback's result is simply discarded when the
    * main machine completes pre-cal), `rows(ind−1)` becomes a
    * previous-value register, and the reference's `break` becomes a freeze
    * flag (the iterator is still drained for the row count and off-start
    * scan, which the reference reads after its loop anyway). The ROWIDX
    * of the rows the indices point at ride along in the same registers:
    * set wherever an index is set, from the current or the previous row.
    */
  def scanStreaming(
      rows: Iterator[Flags],
      channelCount: Long,
      headerObsmode: String): KeyedIndices = {
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
    // ROWIDX of the first and previous rows, and of the rows dataStart,
    // postCal and fbPostCal point at
    var firstKey = 0L
    var prevKey = 0L
    var dsKey = 0L
    var pcKey = 0L
    var fbPcKey = 0L
    var ind = 0
    while (rows.hasNext) {
      val r = rows.next()
      if (ind == 0) firstKey = r.rowidx
      if (!frozen) {
        if (r.calstate == 1) calStarted = true
        if (calStarted && r.calstate == 0 && r.swpvalid == 1 && !preCalComplete) {
          dataStart = Some(ind); dsKey = r.rowidx; preCalComplete = true
        }
        if (ind > 0 && preCalComplete && r.swpvalid == 0 && prevSwp == 0) {
          if (postCal.isEmpty) { postCal = Some(ind - 1); pcKey = prevKey }
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
          if (fbPostCal.isEmpty) { fbPostCal = Some(ind - 1); fbPcKey = prevKey }
        } else fbPostCal = None
        if (r.swpvalid == 0 && r.calstate == 1) fbFrozen = true
        fbPrevSwp = r.swpvalid
      }
      if (offStart < 0 && r.obsmode != null && r.obsmode.contains("onoff:off")) offStart = ind
      prevKey = r.rowidx
      ind += 1
    }
    if (!preCalComplete) {
      dataStart = Some(0); dsKey = firstKey
      postCal = fbPostCal; pcKey = fbPcKey
    }
    // `if not post_cal_start_ind` falls back to the last row (len−1)
    val postCalTruthy = postCal.filter(_ != 0)
    val off =
      if (headerObsmode == "onoff" && offStart >= 0) Some(offStart) else None
    KeyedIndices(CalIndices(dataStart, postCalTruthy.getOrElse(ind - 1), off), dsKey,
      if (postCalTruthy.isDefined) pcKey else prevKey)
  }

  /** Scale path: one scan per file, parallel across files, in ROWIDX
    * order. Input needs FILE_ID, ROWIDX and the three flag columns;
    * everything else is pruned before the shuffle. `cc` is the interleave
    * factor, constant within a file (a literal, or the per-file A3
    * aggregate joined on) and read off each file's first row. Returns one
    * row per file: the three indices (`data_start`, `post_cal_start`,
    * `off_start`) and the ROWIDX at the data start and at the post-cal
    * start (`data_start_rowidx`, `post_cal_start_rowidx`, see
    * [[KeyedIndices]]).
    *
    * ROWIDX must be unique within a file — a row's index is its ROWIDX
    * rank. The scan walks each file in ROWIDX order, so a duplicate is two
    * equal adjacent keys and fails the task with the file and the ROWIDX.
    *
    * Mechanics: `groupBy(FILE_ID).as[K, V].flatMapSortedGroups(ROWIDX)`
    * states the distribution (clustered by FILE_ID) and the order (ROWIDX
    * within a file) the scan needs, and [[scanStreaming]] consumes each
    * file's sorted iterator. Spark adds a hash exchange and its spillable
    * external sort only where the input lacks them: a key-grouped, sorted
    * SDFITS scan (stamped by `SdfitsWriter.writeObservations`) needs
    * neither. No per-group row array is ever materialized (an earlier
    * `groupByKey.mapGroups` held each file's flags in memory to sort
    * them — the engine's only per-group in-memory sort, VERDICT r8), and
    * `groupByKey(f)` would group on an appended column and so always
    * shuffle.
    */
  def scanPerFile(
      df: DataFrame,
      cc: Column,
      headerObsmode: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
        col("FILE_ID").cast("string").as("FILE_ID"),
        col("ROWIDX").cast("long").as("ROWIDX"),
        col("CALSTATE").cast("int"),
        col("SWPVALID").cast("int"),
        col("OBSMODE").cast("string"),
        cc.cast("long"))
      .groupBy(col("FILE_ID"))
      .as[String, (String, Long, Int, Int, String, Long)]
      .flatMapSortedGroups(col("ROWIDX")) { (file, it) =>
        val rows = it.buffered
        val cc = rows.head._6
        val fileRows = new Iterator[Flags] {
          private var n = 0L
          private var prev = 0L
          def hasNext: Boolean = rows.hasNext
          def next(): Flags = {
            val t = rows.next()
            if (n > 0 && t._2 == prev)
              throw new IllegalArgumentException(
                s"duplicate ROWIDX ${t._2} in file $file: ROWIDX must be unique within a file")
            n += 1; prev = t._2
            Flags(t._3, t._4, t._5, t._2)
          }
        }
        def box(o: Option[Int]): java.lang.Long =
          o.map(i => java.lang.Long.valueOf(i.toLong)).orNull
        val k = scanStreaming(fileRows, cc, headerObsmode)
        val r = k.idx
        Iterator.single((file, box(r.dataStart), r.postCalStart.toLong, box(r.offStart),
          k.dataStartRowidx, k.postCalRowidx))
      }
      .toDF("FILE_ID", "data_start", "post_cal_start", "off_start",
        "data_start_rowidx", "post_cal_start_rowidx")
  }
}
