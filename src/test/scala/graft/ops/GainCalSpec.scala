package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.ops.GainCal._

/** F3/A8/A9 (ref continuum.py:46-61, 111-138, 174-187) — including the
  * Python-truthiness and no-op drift-branch quirks of SURVEY §7.5.2.
  */
class GainCalSpec extends SparkTestBase {
  import spark.implicits._

  private def window(onY: Double, offY: Double, nEach: Int = 5) = {
    val rows = (0 until nEach).flatMap(i =>
      Seq((i.toDouble * 2, onY, 1, 0), (i.toDouble * 2 + 1, offY, 0, 0)))
    rows.toDF("t", "intensity", "CALSTATE", "SWPVALID")
  }

  test("calibrationHeight: flat levels give exact delta and zero sd (A8)") {
    val h = calibrationHeight(window(onY = 5.0, offY = 2.0))
    assert(h.contains(Height(3.0, 0.0)))
  }

  test("calibrationHeight: fewer than 4 points in either half -> None (ref continuum.py:137-138)") {
    assert(calibrationHeight(window(5.0, 2.0, nEach = 3)).isEmpty)
    // 5 on-points but only 3 off-points
    val lopsided = ((0 until 5).map(i => (i.toDouble, 5.0, 1, 0)) ++
      (0 until 3).map(i => (10.0 + i, 2.0, 0, 0))).toDF("t", "intensity", "CALSTATE", "SWPVALID")
    assert(calibrationHeight(lopsided).isEmpty)
  }

  test("diode split predicates (F3, ref continuum.py:46-61)") {
    val df = Seq((1, 0), (0, 0), (1, 1), (0, 1)).toDF("CALSTATE", "SWPVALID")
    assert(df.filter(diodeOn).count() == 1)
    assert(df.filter(diodeOff).count() == 1)
  }

  private val cont = Seq((0.0, 12.0), (10.0, 24.0)).toDF("t", "intensity")

  test("applyGain: z < 1.96 divides by the mean height (ref continuum.py:183)") {
    val out = applyGain(cont, Some(Height(2.0, 10.0)), Some(Height(4.0, 10.0)))
      .orderBy($"t").as[(Double, Double)].collect()
    assert(out.toSeq == Seq((0.0, 4.0), (10.0, 8.0))) // /3.0
  }

  test("applyGain: z >= 1.96 divides by the time-interpolated height (intended semantics)") {
    val out = applyGain(cont, Some(Height(2.0, 0.01)), Some(Height(4.0, 0.01)))
      .orderBy($"t").as[(Double, Double)].collect()
    // h(0)=2, h(10)=4
    assert(out.toSeq == Seq((0.0, 6.0), (10.0, 6.0)))
  }

  test("applyGain strictCompat reproduces the reference's no-op drift branch (ref continuum.py:178-181)") {
    val out = applyGain(cont, Some(Height(2.0, 0.01)), Some(Height(4.0, 0.01)), strictCompat = true)
      .orderBy($"t").as[(Double, Double)].collect()
    assert(out.toSeq == Seq((0.0, 12.0), (10.0, 24.0)))
  }

  test("applyGain: only one height present divides by it (ref continuum.py:184-187)") {
    val pre = applyGain(cont, Some(Height(2.0, 0.1)), None)
      .orderBy($"t").as[(Double, Double)].collect()
    assert(pre.toSeq == Seq((0.0, 6.0), (10.0, 12.0)))
    val post = applyGain(cont, None, Some(Height(4.0, 0.1)))
      .orderBy($"t").as[(Double, Double)].collect()
    assert(post.toSeq == Seq((0.0, 3.0), (10.0, 6.0)))
  }

  test("applyGain: height 0.0 is Python-falsy and counts as absent (ref continuum.py:174)") {
    val out = applyGain(cont, Some(Height(0.0, 0.1)), Some(Height(4.0, 0.1)))
      .orderBy($"t").as[(Double, Double)].collect()
    assert(out.toSeq == Seq((0.0, 3.0), (10.0, 6.0))) // falls to post-only branch
    val none = applyGain(cont, Some(Height(0.0, 0.1)), Some(Height(0.0, 0.1)))
      .orderBy($"t").as[(Double, Double)].collect()
    assert(none.toSeq == Seq((0.0, 12.0), (10.0, 24.0))) // untouched
  }

  test("gain: sd 0 with unequal heights is z = +Infinity, the drift branch") {
    assert(gain(Some(Height(2.0, 0.0)), Some(Height(4.0, 0.0)), Some((0.0, 10.0)), strictCompat = false)
      == Gain(2, 2.0, 4.0, 0.0, 10.0))
  }

  test("gain: equal heights with sd 0 is z = NaN, the mean-height branch") {
    assert(gain(Some(Height(3.0, 0.0)), Some(Height(3.0, 0.0)), Some((0.0, 10.0)), strictCompat = false)
      == Gain(1, 3.0, 0.0, 0.0, 0.0))
  }

  test("gain: a drifting pair over an empty window leaves intensity as it is") {
    assert(gain(Some(Height(2.0, 0.01)), Some(Height(4.0, 0.01)), None, strictCompat = false).mode == 0)
  }

  test("gain: a drifting pair over one sample time divides by the mean height") {
    assert(gain(Some(Height(2.0, 0.01)), Some(Height(4.0, 0.01)), Some((5.0, 5.0)), strictCompat = false)
      == Gain(1, 3.0, 0.0, 0.0, 0.0))
  }

  test("gain: strictCompat drift is the reference's no-op") {
    assert(gain(Some(Height(2.0, 0.01)), Some(Height(4.0, 0.01)), Some((0.0, 10.0)), strictCompat = true)
      == Gain(0, 0.0, 0.0, 0.0, 0.0))
  }

  test("gain: a 0.0 height counts as absent, and the extent is read only on the drift branch") {
    def noExtent: Option[(Double, Double)] = fail("extent read off the drift branch")
    assert(gain(Some(Height(0.0, 0.1)), Some(Height(4.0, 0.1)), noExtent, strictCompat = false)
      == Gain(1, 4.0, 0.0, 0.0, 0.0))
    assert(gain(Some(Height(2.0, 0.1)), Some(Height(0.0, 0.1)), noExtent, strictCompat = false)
      == Gain(1, 2.0, 0.0, 0.0, 0.0))
    assert(gain(Some(Height(0.0, 0.1)), Some(Height(0.0, 0.1)), noExtent, strictCompat = false).mode == 0)
    assert(gain(None, None, noExtent, strictCompat = false).mode == 0)
  }

  test("heights over a frame's diode rows == calibrationHeight per window") {
    // (__pos, CALSTATE, SWPVALID, t, intensity): spike windows at pos < 12
    // and pos >= 28 with noisy, sloped levels; pos 3 is a sweep-invalid row
    // and pos 30 an unknown diode state, which neither form fits.
    val rows = (0 until 40).map { i =>
      val on = i % 2
      val swp = if (i == 3) 1 else 0
      val cal = if (i == 30) 2 else on
      (i.toLong, cal, swp, i * 0.5, 10.0 + 3.0 * on + 0.1 * i + math.sin(i * 1.7))
    }
    val frame = rows.toDF("__pos", "CALSTATE", "SWPVALID", "t", "intensity")
    val (dataStart, postCal) = (12L, 28L)
    val diode = rows.filter(r => r._3 == 0 && (r._2 == 0 || r._2 == 1))
      .filter(r => r._1 < dataStart || r._1 >= postCal)
      .map(r => (r._1 < dataStart, r._2 == 1, r._4, r._5))
    val (pre, post) = heights(diode)
    assert(pre.isDefined && post.isDefined && pre != post)
    assert(calibrationHeight(frame.filter($"__pos" < dataStart)) == pre)
    assert(calibrationHeight(frame.filter($"__pos" >= postCal)) == post)
  }
}
