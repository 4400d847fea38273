package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.ArrayOps
import graft.model.HeaderRecord
import graft.model.HeaderRecord.Header
import graft.ops._

/** Entry point 2 — the continuum reduction (ref continuum.py:140-191):
  * F1 feed/pol filter → optional F6/F7 range filters → ST1 spike scan →
  * A8 calibration heights on the pre/post windows → A1 integration of the
  * data window → A9 gain division. Returns (t, intensity) ordered by t.
  *
  * Plan shape at scale: the filters + A1 are one narrow map-only chain over
  * the scan (predicate pushdown + column pruning reach parquet); ST1 collects
  * only three flag columns; A8 collects two doubles per spike row; A9 is a
  * broadcast-literal `withColumn`. Nothing shuffles except the final orderBy,
  * which the caller can drop when order is not needed.
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

  def run(df: DataFrame, header: Header, p: Params): DataFrame = {
    // A3 — sweep-interleave factor from the PRE-filter table (continuum.py:24-28).
    val channelCount = Integration.sweepInterleaveFactor(df)

    // F1 — feed/pol selection (continuum.py:30-33).
    var d = df.filter(col("IFNUM") === p.ifnum && col("PLNUM") === p.plnum)

    // F6 — time ranges (continuum.py:147-148).
    val t0 = lit(header.date)
    d = RangeFilters.filterTimeRanges(d, t0, p.includeTime, p.excludeTime)

    // F7 — frequency ranges, else synthesized axis (continuum.py:149-153).
    val fr = HeaderRecord.frequencyRange(header, p.ifnum)
    val freqs = ArrayOps.freqAxis(fr.high, fr.low, fr.channelCount)
    val (_, d2) = RangeFilters.filterFrequencyRanges(d, freqs, p.includeFreq, p.excludeFreq)

    // ST1 — three indices on the filtered frame (continuum.py:156).
    // flagged is cached: the ST1 scan, both A8 height collects and the final
    // consumer all read it. NOT unpersisted here — the returned frame is
    // lazy and still reads `flagged`; an eager unpersist would force the
    // final consumer to recompute the whole chain. Cache lifecycle is the
    // CALLER's: clear with spark.catalog.clearCache() once the result is
    // consumed (the harness does this between queries). Callers looping
    // over MANY files should use [[runAll]] — one job chain, no per-file
    // caches — rather than calling run() per file.
    // `__pos` is the reference's implicit row position (F9), in the
    // bucketed form ([[graft.ops.Positions]]): a constant FILE_ID would
    // constant-fold a per-file window's partition key away and funnel
    // every row through one WindowExec partition. ([[runAll]] numbers no
    // rows: it compares ROWIDX thresholds.)
    val flagged = Positions.withPos(d2).cache()
    // Distributed ST1: flag rows reduce executor-side; one row reaches the
    // driver (scan semantics in ROWIDX order, pinned by q_st1_calscan).
    val idx = CalibrationScan.scanSingleFileDistributed(flagged, channelCount, header.obsmode)
    val dataStart = idx.dataStart.getOrElse(0)
    val postCal = idx.postCalStart

    // A1 over each window once, then F9 positional slicing on the result —
    // one pass computes t/intensity for every row.
    val integ = flagged.select(
      col("__pos"),
      col("CALSTATE"), col("SWPVALID"),
      RangeFilters.relSeconds(col("DATE_OBS"), t0).as("t"),
      ArrayOps.arraySum(col("DATA")).as("intensity"))

    // A8 — heights from the pre/post calibration windows (continuum.py:161-169),
    // both windows in one tagged collect (one driver round trip, not four).
    val (pre, post) = GainCal.calibrationHeights(integ, dataStart, postCal)

    // Data window integration (continuum.py:171) + A9 gain division.
    val cont = integ
      .filter(col("__pos") >= dataStart && col("__pos") < postCal)
      .select(col("t"), col("intensity"))
    GainCal.applyGain(cont, pre, post, p.strictCompat).orderBy(col("t"))
  }

  /** Multi-file scale path: the whole reduction for N files in ONE Spark job
    * chain — no per-file driver orchestration ([[run]] issues ~6 driver-
    * synchronous jobs per file, which at 100k files makes the driver loop the
    * bottleneck; here the driver issues a constant number of jobs total).
    *
    * Plan shape: two `localCheckpoint`s and no position window.
    *  - `base`: one narrow projection computes (t, intensity) for every row
    *    (the wide DATA never reaches anything downstream of A1).
    *  - `idx`: the per-file ST1 scan over the F1-filtered `base` (secondary
    *    sort, O(1) state per file) yields one row per file with the ROWIDX
    *    thresholds of the data window.
    *  - The A8 heights (a mapGroups over the spike windows only), the data
    *    window's t extent (a plain aggregate) and the final gain division
    *    each reread `base` through the same narrow filter and broadcast-join
    *    the per-file frame; every window test is a ROWIDX comparison. The
    *    A9 branch decision is a codegen'd `when` over the per-file frame.
    *
    * Semantics per file are identical to [[run]] (same scan, same fits, same
    * truthiness/z/strictCompat branches, interpolation over the data
    * window's min/max t), pinned by ContinuumAllSpec against [[run]].
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
    // are exactly what [[run]] computes post-filter. The gate is
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
    val base = df.select(
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
      .localCheckpoint()

    // A3 per file, in-plan (no driver agg): |IFNUM| x |PLNUM| distinct.
    val cc = base.groupBy(col("FILE_ID"))
      .agg((countDistinct(col("IFNUM")) * countDistinct(col("PLNUM"))).as("__cc"))

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
    // Bounded per-group memory (VERDICT r14 item 4): the former shape
    // materialized each file's FULL row set in one mapGroups (`it.toArray`)
    // — fine for real observations (thousands of rows), pathological on
    // the 15M-rows-per-file sf10 fixture. Now only the pre/post
    // calibration WINDOWS (tens of rows per file) ever reach a group
    // buffer: the ST1 thresholds come from the O(1)-state streaming scan
    // ([[CalibrationScan.scanPerFile]], with the per-file A3 factor as a
    // column), broadcast back onto the filtered frame; the spike-window
    // filter bounds what the heights mapGroups sees; and the data window
    // reduces to a min/max/count aggregation. The A9 branch decision
    // becomes a codegen'd CaseWhen over the tiny per-file frame — same op
    // order as the mapGroups had, so ContinuumAllSpec's bit-parity against
    // [[run]] still pins it.
    val idx = CalibrationScan.scanPerFile(d.join(broadcast(cc), "FILE_ID"), col("__cc"),
        header.obsmode)
      .select(col("FILE_ID"),
        col("data_start_rowidx").as("__ds"),
        col("post_cal_start_rowidx").as("__pc"))
      .localCheckpoint() // per-file frame, read three times below
    val rid = col("ROWIDX")

    // Spike rows only — the bounded group payload (diode on/off rows of
    // the two calibration windows; the height fit reads nothing else).
    val spikes = d.join(broadcast(idx), "FILE_ID")
      .filter((rid < col("__ds") || rid >= col("__pc")) && col("SWPVALID") === 0)
      .select(col("FILE_ID"), rid,
        (rid < col("__ds")).as("__pre"),
        (col("CALSTATE") === 1).as("__on"), col("t"), col("intensity"))
    val heights = spikes
      .as[(String, Long, Boolean, Boolean, Double, Double)]
      .groupByKey(_._1)
      .mapGroups { (file, it) =>
        val rows = it.toArray.sortBy(_._2) // tens of rows: spike windows only, ROWIDX order
        def h(pre: Boolean): Option[GainCal.Height] = {
          val w = rows.filter(_._3 == pre)
          val on = w.filter(_._4)
          val off = w.filterNot(_._4)
          GainCal.calibrationHeightLocal(
            on.map(_._5), on.map(_._6), off.map(_._5), off.map(_._6))
        }
        // Python-truthiness filter (delta == 0.0 counts as absent), as in
        // the mapGroups this replaces.
        val pre = h(pre = true).filter(_.delta != 0.0)
        val post = h(pre = false).filter(_.delta != 0.0)
        (file, pre.isDefined, pre.fold(0.0)(_.delta), pre.fold(0.0)(_.sd),
          post.isDefined, post.fold(0.0)(_.delta), post.fold(0.0)(_.sd))
      }
      .toDF("FILE_ID", "__preDef", "__preD", "__preSd",
        "__postDef", "__postD", "__postSd")

    // Data-window extent: a plain aggregation — no group buffer at all.
    val winStats = d.join(broadcast(idx), "FILE_ID")
      .filter(rid >= col("__ds") && rid < col("__pc"))
      .groupBy(col("FILE_ID"))
      .agg(min(col("t")).as("__w1"), max(col("t")).as("__w2"),
        count(lit(1)).as("__wn"))

    // Per-file gain parameters: mode 0 = identity, 1 = divide by constant
    // `pv`, 2 = divide by the height interpolated between (t1, pv)..(t2, qv).
    // Branch decision mirrors GainCal.applyGain exactly (same IEEE op
    // order as the scalar form: z = |a−b| / sqrt(sd_a² + sd_b²)). The
    // zero-denominator case is guarded EXPLICITLY rather than divided:
    // ANSI Spark errors on double division by zero where the JVM yields
    // ±Infinity/NaN, and Spark orders NaN ABOVE all doubles where the
    // JVM's `NaN >= 1.96` is false — both would diverge from the scalar
    // branch this mirrors (|Δ| > 0 over a zero sd is the JVM's Infinity
    // → drift; |Δ| = 0 is its NaN → no drift).
    val preDef = coalesce(col("__preDef"), lit(false))
    val postDef = coalesce(col("__postDef"), lit(false))
    val a = col("__preD")
    val b = col("__postD")
    val zDenom =
      sqrt(col("__preSd") * col("__preSd") + col("__postSd") * col("__postSd"))
    val driftCond = when(zDenom === 0.0, abs(a - b) > 0.0)
      .otherwise(abs(a - b) / zDenom >= 1.96)
    val avgH = (a + b) / 2
    val winEmpty = coalesce(col("__wn"), lit(0L)) === 0
    def dec5(m: Int, pv: Column, qv: Column, t1: Column, t2: Column) =
      struct(lit(m).as("m"), pv.as("p"), qv.as("q"), t1.as("t1"), t2.as("t2"))
    val zero5 = dec5(0, lit(0.0), lit(0.0), lit(0.0), lit(0.0))
    val mode1 = (v: Column) => dec5(1, v, lit(0.0), lit(0.0), lit(0.0))
    val drift =
      if (p.strictCompat) zero5
      else when(winEmpty, zero5)
        .when(col("__w2") === col("__w1"), mode1(avgH))
        .otherwise(dec5(2, a, b, col("__w1"), col("__w2")))
    val decision =
      when(preDef && postDef, when(driftCond, drift).otherwise(mode1(avgH)))
        .when(preDef, mode1(a))
        .when(postDef, mode1(b))
        .otherwise(zero5)
    val params = idx
      .join(heights, Seq("FILE_ID"), "left")
      .join(winStats, Seq("FILE_ID"), "left")
      .select(col("FILE_ID"), col("__ds"), col("__pc"),
        decision.getField("m").as("__mode"),
        decision.getField("p").as("__p"),
        decision.getField("q").as("__q"),
        decision.getField("t1").as("__t1"),
        decision.getField("t2").as("__t2"))

    // Broadcast the tiny per-file parameter table back onto the filtered
    // frame; the gain division is a codegen'd expression (same op order as
    // GainCal.applyGain for bit parity with the single-file path).
    val h = col("__p") + (col("__q") - col("__p")) * ((col("t") - col("__t1")) / (col("__t2") - col("__t1")))
    d.join(broadcast(params), "FILE_ID")
      .filter(rid >= col("__ds") && rid < col("__pc"))
      .select(col("FILE_ID"), col("t"),
        when(col("__mode") === 2, col("intensity") / h)
          .when(col("__mode") === 1, col("intensity") / col("__p"))
          .otherwise(col("intensity")).as("intensity"))
      .orderBy(col("FILE_ID"), col("t"))
  }
}
