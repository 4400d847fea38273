package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.KeyedCheckpoint
import graft.functions.ArrayOps
import graft.model.HeaderRecord
import graft.model.HeaderRecord.Header
import graft.ops._

/** Entry point 2 — the continuum reduction (ref continuum.py:140-191):
  * F1 feed/pol filter → optional F6/F7 range filters → ST1 spike scan →
  * A8 calibration heights on the pre/post windows → A1 integration of the
  * data window → A9 gain division.
  *
  * One implementation: [[runAll]] reduces each file of its input, and
  * [[run]] is [[runAll]] over one observation. The scalar per-file port
  * the specs compare both against lives in the tests
  * (`graft.pipeline.ReferenceReduction`).
  */
object Continuum {

  final case class Params(
      ifnum: Int,
      plnum: Int,
      includeFreq: Seq[(Double, Double)] = Nil,
      excludeFreq: Seq[(Double, Double)] = Nil,
      includeTime: Seq[(Double, Double)] = Nil,
      excludeTime: Seq[(Double, Double)] = Nil,
      strictCompat: Boolean = false)

  /** The reference's per-file reduction: [[runAll]] with every row under
    * one file key, so the whole input is reduced as ONE observation, as the
    * reference reads one file. Rows of several files are not told apart: a
    * ROWIDX repeated across them fails the ST1 scan (`duplicate ROWIDX`).
    * Returns (t, intensity) ordered by t.
    */
  def run(df: DataFrame, header: Header, p: Params): DataFrame =
    runAll(df.withColumn("FILE_ID", lit("0")), header, p)
      .select(col("t"), col("intensity"))
      .orderBy(col("t"))

  /** The whole reduction for N files in ONE Spark job chain: no per-file
    * driver orchestration, so the driver issues a constant number of jobs
    * whatever the file count.
    *
    * Plan shape: one checkpoint and no position window.
    *  - `base`: one narrow projection computes (t, intensity) for every row
    *    (the wide DATA never reaches anything downstream of A1), checkpointed
    *    with the partitioning and order of its input.
    *  - `cc`: the A3 factor per file, one aggregate.
    *  - `idx`: the per-file ST1 scan over the F1-filtered `base` (sorted
    *    per-file groups, O(1) state per file) yields one row per file with
    *    the ROWIDX thresholds of the data window.
    *  - `params`: one aggregate per file over the filtered `base` joined
    *    with `idx` gathers the data window's t extent and the spike
    *    windows' diode rows; a typed map fits the A8 heights and takes the
    *    A9 decision with [[GainCal.heights]] and [[GainCal.gain]].
    *  - The gain division rereads the filtered `base` and broadcast-joins
    *    `params`; every window test is a ROWIDX comparison.
    *
    * Jobs: the checkpoint, three broadcasts (`cc`, `idx`, `params`) and the
    * collect, 5. Over a stamped SDFITS directory (grouped by FILE_ID, sorted
    * by ROWIDX) nothing exchanges or sorts; otherwise `cc`, the scan and
    * `params` each add a shuffle. The rows are unordered, one per
    * (FILE_ID, t): order them with `orderBy`, or over a stamped directory,
    * where each file's rows sit in one partition in ROWIDX order,
    * `sortWithinPartitions`.
    *
    * Each file's rows are the reference's reduction of that file alone
    * (interpolation over the data window's min/max t), pinned by
    * ContinuumAllSpec against the scalar port.
    */
  def runAll(df: DataFrame, header: Header, p: Params): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._

    val t0 = lit(header.date)
    val fr = HeaderRecord.frequencyRange(header, p.ifnum)
    val freqs = ArrayOps.freqAxis(fr.high, fr.low, fr.channelCount)

    // ONE evaluation of the (possibly expensive) source subtree: a narrow
    // PRE-F1 projection in which DATA is already consumed into intensity
    // (A1 after the F7 channel crop, both per-row), so the checkpoint holds
    // nine scalar columns and never the channel vectors. Both the A3
    // interleave aggregate (pre-filter semantics, continuum.py:24-28) and
    // the filtered frame below re-read this materialization —
    // previously each evaluated the full source independently, and the sf1
    // smoke measured the multi-file fixture at ~7 s PER evaluation (the
    // dominant term of q_continuum_all's 5× ratio for 10× data).
    // The crop/integration is gated on the F1 predicate (CaseWhen
    // short-circuits in codegen): the crop indices derive from p.ifnum's
    // channel geometry, and under ANSI an unconditional element_at would
    // crash on another IF's shorter DATA array — besides wasting the
    // arraySum on every row F1 drops anyway. Gated, the surviving values
    // are those of a crop after F1. The gate is
    // CONSTRUCTED — pickChannels sits inside the when() branch directly
    // (ADVICE r13): the earlier form cropped via an unconditional
    // withColumn and depended on CollapseProject inlining it into the
    // branch; an optimizer duplicate-reference guard change would have
    // evaluated the crop ungated.
    val f1 = col("IFNUM") === p.ifnum && col("PLNUM") === p.plnum
    val croppedData = RangeFilters
      .keptChannelIndices(freqs, p.includeFreq, p.excludeFreq)
      .map(kept => ArrayOps.pickChannels(col("DATA"), kept))
      .getOrElse(col("DATA"))
    val projected = df.select(
      col("FILE_ID").cast("string").as("FILE_ID"),
      col("ROWIDX").cast("long").as("ROWIDX"),
      col("IFNUM").cast("int").as("IFNUM"),
      col("PLNUM").cast("int").as("PLNUM"),
      col("CALSTATE").cast("int").as("CALSTATE"),
      col("SWPVALID").cast("int").as("SWPVALID"),
      col("OBSMODE").cast("string").as("OBSMODE"),
      RangeFilters.relSeconds(col("DATE_OBS"), t0).as("t"),
      when(f1, ArrayOps.arraySum(croppedData))
        .otherwise(lit(null).cast("double")).as("intensity"))
    // The checkpoint keeps the source's partitioning and order: over a
    // stamped SDFITS directory (key-grouped by FILE_ID, sorted by ROWIDX,
    // kept through the projection because FILE_ID is already a string and
    // ROWIDX a long) every per-file step below then runs without a shuffle.
    val base = KeyedCheckpoint.localCheckpoint(projected)

    // A3 per file, in-plan (no driver agg): |IFNUM| x |PLNUM| distinct, as
    // the sizes of two sets in one aggregate. Two countDistincts would plan
    // an Expand, which reports no partitioning, so they would shuffle twice
    // even over input already grouped by file.
    val cc = base.groupBy(col("FILE_ID"))
      .agg((size(collect_set(col("IFNUM"))) * size(collect_set(col("PLNUM")))).as("__cc"))

    var d = base.filter(col("IFNUM") === p.ifnum && col("PLNUM") === p.plnum)
    if (p.includeTime.nonEmpty || p.excludeTime.nonEmpty)
      d = d.filter(RangeFilters.timeRangePredicate(col("t"), p.includeTime, p.excludeTime))

    // Every consumer below rereads the checkpointed `base` through this
    // narrow filter — no row positions. The reference slices by row
    // POSITION within the filtered file (F9), but a position is the rank
    // of the row's ROWIDX (unique per file, checked by the scan), so each
    // position threshold becomes a ROWIDX threshold: the scan reports the
    // ROWIDX at the data start and at the post-cal start, and
    // `pos < data_start` ⇔ `ROWIDX < __ds`, `pos >= post_cal_start` ⇔
    // `ROWIDX >= __pc` — as Spectrum.runAll does for its off index (r14).
    //
    // Bounded per-group memory (VERDICT r14 item 4): no group buffer ever
    // holds a file's FULL row set (pathological on the 15M-rows-per-file
    // sf10 fixture). The ST1 thresholds come from the O(1)-state streaming
    // scan ([[CalibrationScan.scanPerFile]], with the per-file A3 factor as
    // a column), and the one per-file aggregate below collects only the
    // diode rows of the pre/post calibration windows (tens of rows).
    val idx = CalibrationScan.scanPerFile(d.join(broadcast(cc), "FILE_ID"), col("__cc"),
        header.obsmode)
      .select(col("FILE_ID"),
        col("data_start_rowidx").as("__ds"),
        col("post_cal_start_rowidx").as("__pc"))
    val rid = col("ROWIDX")
    val inWindow = rid >= col("__ds") && rid < col("__pc")

    // One aggregate per file feeds A8 and A9: the data window's t extent
    // and the diode rows of the two spike windows (tens of rows per file;
    // the height fit reads nothing else). A typed map then fits the heights
    // and decides the gain with GainCal's scalar code.
    val strictCompat = p.strictCompat
    val params = d.join(broadcast(idx), "FILE_ID")
      .groupBy(col("FILE_ID"), col("__ds"), col("__pc"))
      .agg(min(when(inWindow, col("t"))).as("__w1"), max(when(inWindow, col("t"))).as("__w2"),
        collect_list(when(!inWindow && (GainCal.diodeOn || GainCal.diodeOff),
          struct(rid.as("_1"), (col("CALSTATE") === 1).as("_2"),
            col("t").as("_3"), col("intensity").as("_4")))).as("__diode"))
      .as[(String, Long, Long, Option[Double], Option[Double], Seq[(Long, Boolean, Double, Double)])]
      .map { case (file, ds, pc, w1, w2, diode) =>
        val (pre, post) = GainCal.heights(
          diode.sortBy(_._1).map { case (k, on, t, y) => (k < ds, on, t, y) }) // ROWIDX order
        val g = GainCal.gain(pre, post, w1.zip(w2), strictCompat)
        (file, ds, pc, g.mode, g.p, g.q, g.t1, g.t2)
      }
      .toDF("FILE_ID", "__ds", "__pc", "__mode", "__p", "__q", "__t1", "__t2")

    // Broadcast the tiny per-file gain table back onto the filtered frame.
    d.join(broadcast(params), "FILE_ID")
      .filter(inWindow)
      .select(col("FILE_ID"), col("t"),
        GainCal.divide(col("intensity"), col("t"), col("__mode"),
          col("__p"), col("__q"), col("__t1"), col("__t2")).as("intensity"))
  }
}
