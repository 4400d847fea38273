package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** F3/A8/A9 — diode split, calibration height, gain calibration
  * (ref continuum.py:46-61, 111-138, 174-187).
  *
  * The calibration spike windows are tens of rows, so A8 fits them on local
  * arrays ([[heights]]): [[graft.pipeline.Continuum.runAll]] (and so
  * `Continuum.run`, which is `runAll` over one observation) gathers each
  * file's in one aggregate, and [[calibrationHeight]] collects one window
  * to the driver. A9's branch decision ([[gain]]) is scalar code; its
  * division ([[divide]]) is one Column, over literals in [[applyGain]] and
  * over per-file columns in `runAll`.
  */
object GainCal {

  /** F3 — diode on/off split predicates (ref continuum.py:46-61). */
  val diodeOn: Column = col("CALSTATE") === 1 && col("SWPVALID") === 0
  val diodeOff: Column = col("CALSTATE") === 0 && col("SWPVALID") === 0

  final case class Height(delta: Double, sd: Double)

  /** A8 — calibration height of one spike window (ref continuum.py:111-138)
    * via [[heights]]. `window` must already be the calibration slice with
    * `t` (relative seconds) and `intensity` (A1 row sums) columns plus the
    * flag columns.
    */
  def calibrationHeight(window: DataFrame): Option[Height] =
    heights(collectDiodeRows(window))._1

  /** One window's diode rows in [[heights]]' form, every one in the pre window. */
  private def collectDiodeRows(df: DataFrame): Seq[(Boolean, Boolean, Double, Double)] =
    df.filter(diodeOn || diodeOff)
      .select(col("CALSTATE") === 1, col("t"), col("intensity"))
      .collect().toSeq
      .map(r => (true, r.getBoolean(0), r.getDouble(1), r.getDouble(2)))

  /** A8 for both spike windows from one file's diode rows `(pre-window?,
    * diode-on?, t, intensity)` in row order: each window splits into its
    * on and off rows (row order kept) for [[calibrationHeightLocal]].
    * Returns the (pre, post) heights. [[graft.pipeline.Continuum.runAll]]
    * gathers these rows per file executor-side.
    */
  def heights(rows: Seq[(Boolean, Boolean, Double, Double)]): (Option[Height], Option[Height]) = {
    def window(pre: Boolean): Option[Height] = {
      val (on, off) = rows.filter(_._1 == pre).partition(_._2)
      calibrationHeightLocal(
        on.map(_._3).toArray, on.map(_._4).toArray, off.map(_._3).toArray, off.map(_._4).toArray)
    }
    (window(pre = true), window(pre = false))
  }

  /** A8 core on one window's on and off rows (ref continuum.py:111-138):
    * require ≥4 points each, RCR-fit both on mean-centered times, evaluate
    * both fits at the midpoint of the two mean times, Δ = on(t)−off(t), σ by
    * quadrature propagation. Returns None when either half has <4 points
    * (ref continuum.py:137-138).
    */
  private def calibrationHeightLocal(
      tOn: Array[Double], yOn: Array[Double],
      tOff: Array[Double], yOff: Array[Double]): Option[Height] = {
    if (tOn.length >= 4 && tOff.length >= 4) {
      val meanOn = tOn.sum / tOn.length
      val meanOff = tOff.sum / tOff.length
      // Reference centers x by its mean before the RCR fit (continuum.py:78).
      val fitOn = RobustFit.rcrLinearFit(tOn.map(_ - meanOn), yOn)
      val fitOff = RobustFit.rcrLinearFit(tOff.map(_ - meanOff), yOff)
      val evalT = (meanOn + meanOff) / 2
      val evalOn = evalT - meanOn
      val evalOff = evalT - meanOff
      val yOnAt = evalOn * fitOn.fit.slope + fitOn.fit.intercept
      val yOffAt = evalOff * fitOff.fit.slope + fitOff.fit.intercept
      val delta = yOnAt - yOffAt
      val sd = math.sqrt(
        math.pow(fitOn.err.interceptSd, 2) + math.pow(fitOff.err.interceptSd, 2) +
        math.pow(fitOn.err.slopeSd * evalOn, 2) + math.pow(fitOff.err.slopeSd * evalOff, 2))
      Some(Height(delta, sd))
    } else None
  }

  /** A9's decision for one file: `mode` 0 leaves intensity as it is, 1
    * divides it by `p`, 2 divides it by the height interpolated linearly
    * from (`t1`, `p`) to (`t2`, `q`). See [[gain]].
    */
  final case class Gain(mode: Int, p: Double, q: Double, t1: Double, t2: Double)

  private val noGain = Gain(0, 0.0, 0.0, 0.0, 0.0)
  private def constant(h: Double) = Gain(1, h, 0.0, 0.0, 0.0)

  /** A9 — the gain decision (ref continuum.py:174-187), the one
    * implementation [[applyGain]] and the continuum reduction use. `extent`
    * is the data window's (min t, max t), None when the window is empty; it
    * is read only on the drift branch.
    *
    * Semantics notes, pinned by GainCalSpec:
    *  - Python truthiness: a height of exactly 0.0 counts as "absent"
    *    (ref continuum.py:174 `if pre and post`), ported literally.
    *  - z = |Δpre − Δpost| / sqrt(σpre² + σpost²) in JVM doubles: a zero
    *    σ gives +∞ (drift) for unequal heights and NaN (mean height, since
    *    `NaN >= 1.96` is false) for equal ones.
    *  - The z ≥ 1.96 drift branch in the reference rebinds a loop scalar and
    *    so never modifies the data (ref continuum.py:178-181 — a no-op as
    *    written). `strictCompat = true` reproduces the no-op;
    *    `strictCompat = false` (default) implements the evident intent:
    *    divide by the height linearly interpolated between the first and last
    *    sample times (SURVEY §7.5.2), or by the mean height when those
    *    times are equal.
    */
  def gain(pre: Option[Height], post: Option[Height],
      extent: => Option[(Double, Double)], strictCompat: Boolean): Gain =
    (pre.filter(_.delta != 0.0), post.filter(_.delta != 0.0)) match {
      case (Some(p), Some(q)) =>
        val z = math.abs(p.delta - q.delta) / math.sqrt(p.sd * p.sd + q.sd * q.sd)
        if (!(z >= 1.96)) constant((p.delta + q.delta) / 2)
        else if (strictCompat) noGain // reference's no-op drift branch
        else extent match {
          case None => noGain
          case Some((t1, t2)) if t2 == t1 => constant((p.delta + q.delta) / 2)
          case Some((t1, t2)) => Gain(2, p.delta, q.delta, t1, t2)
        }
      case (Some(p), None) => constant(p.delta)
      case (None, Some(q)) => constant(q.delta)
      case (None, None) => noGain
    }

  /** A9's division as one Column over a [[Gain]]'s fields: literals in
    * [[applyGain]], per-file columns in [[graft.pipeline.Continuum.runAll]].
    */
  def divide(intensity: Column, t: Column,
      mode: Column, p: Column, q: Column, t1: Column, t2: Column): Column =
    when(mode === 2, intensity / (p + (q - p) * ((t - t1) / (t2 - t1))))
      .when(mode === 1, intensity / p)
      .otherwise(intensity)

  /** A9 over a continuum frame with columns (t, intensity): [[gain]] with
    * the frame's t extent (one aggregate, run only on the drift branch),
    * applied by [[divide]]. Heights are per-file scalars.
    */
  def applyGain(
      continuum: DataFrame,
      pre: Option[Height],
      post: Option[Height],
      strictCompat: Boolean = false): DataFrame = {
    def extent = {
      val r = continuum.agg(min(col("t")), max(col("t"))).head()
      if (r.isNullAt(0)) None else Some((r.getDouble(0), r.getDouble(1)))
    }
    val g = gain(pre, post, extent, strictCompat)
    continuum.withColumn("intensity", divide(col("intensity"), col("t"),
      lit(g.mode), lit(g.p), lit(g.q), lit(g.t1), lit(g.t2)))
  }
}
