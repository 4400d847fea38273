package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.RobustFit._

/** A5/A6/A7 — OLS closed form, uncertainties, and the RCR reject–refit loop
  * (Maples et al. 2018 reimplementation, ref continuum.py:63-109).
  */
class RobustFitSpec extends AnyFunSuite {

  test("OLS recovers an exact line") {
    val x = Array(0.0, 1.0, 2.0, 3.0)
    val y = x.map(v => 3.0 * v + 4.0)
    val f = ols(x, y)
    assert(math.abs(f.slope - 3.0) < 1e-12 && math.abs(f.intercept - 4.0) < 1e-12)
  }

  test("OLS matches the closed form on a known small sample") {
    // x=(0,1,2), y=(1,3,4): sxy=3, sxx=2 → slope 1.5; ȳ−1.5x̄ = 8/3−1.5 = 7/6.
    val f = ols(Array(0.0, 1.0, 2.0), Array(1.0, 3.0, 4.0))
    assert(math.abs(f.slope - 1.5) < 1e-12)
    assert(math.abs(f.intercept - 7.0 / 6.0) < 1e-12)
  }

  test("fit uncertainties match the reference formulas (ref continuum.py:104-107)") {
    val x = Array(0.0, 1.0, 2.0, 3.0)
    val y = Array(0.1, 1.9, 4.1, 5.9)
    val f = ols(x, y)
    val e = fitUncertainty(x, y, f)
    // Hand-check: residual variance s2 = sum(r^2)/(n-2), sxx = 5.
    val res = x.zip(y).map { case (xi, yi) => yi - f.slope * xi - f.intercept }
    val s2 = res.map(r => r * r).sum / 2
    assert(math.abs(e.slopeSd - math.sqrt(s2 / 5.0)) < 1e-12)
    assert(math.abs(e.interceptSd - math.sqrt(s2 * (0.25 + 1.5 * 1.5 / 5.0))) < 1e-12)
  }

  test("RCR on well-behaved data rejects nothing and equals OLS") {
    val x = Array.tabulate(10)(_.toDouble)
    val y = x.zipWithIndex.map { case (v, i) => 2.0 * v + 1.0 + (if (i % 2 == 0) 0.1 else -0.1) }
    val r = rcrLinearFit(x, y)
    val f = ols(x, y)
    assert(r.keptIndices.length == 10)
    assert(r.fit == f)
  }

  test("RCR rejects injected outliers and recovers the underlying line") {
    val n = 60
    val x = Array.tabulate(n)(_.toDouble)
    val y = x.map(v => 2.0 * v + 1.0)
    y(7) += 500.0; y(23) -= 800.0 // two gross outliers
    val r = rcrLinearFit(x, y)
    assert(!r.keptIndices.contains(7) && !r.keptIndices.contains(23))
    assert(math.abs(r.fit.slope - 2.0) < 1e-9)
    assert(math.abs(r.fit.intercept - 1.0) < 1e-9)
  }

  test("distributed RCR agrees with the local form on the outlier fixture") {
    val spark = graft.GraftSession.create(cores = 4)
    import spark.implicits._
    val n = 200
    val x = Array.tabulate(n)(_.toDouble)
    val y = x.map(v => 2.0 * v + 1.0 + math.sin(v) * 0.5)
    y(11) += 500.0; y(77) -= 900.0; y(150) += 700.0
    val local = rcrLinearFit(x, y)
    val (fit, err, kept) = rcrFitDistributed(
      x.zip(y).toSeq.toDF("x", "y"),
      org.apache.spark.sql.functions.col("x"), org.apache.spark.sql.functions.col("y"))
    assert(kept == local.keptIndices.length.toLong)
    assert(math.abs(fit.slope - local.fit.slope) < 1e-9)
    assert(math.abs(fit.intercept - local.fit.intercept) < 1e-9)
    assert(math.abs(err.slopeSd - local.err.slopeSd) < 1e-9)
  }

  test("RCR requires >= 4 points") {
    intercept[IllegalArgumentException] {
      rcrLinearFit(Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0))
    }
  }

  test("Chauvenet threshold grows with n and matches erfc inversion") {
    val t4 = chauvenetThreshold(4)
    val t100 = chauvenetThreshold(100)
    assert(t4 > 1.0 && t4 < t100 && t100 < 4.0)
    // Definition: n * erfc(t/sqrt(2)) = 0.5. Scipy cross-check:
    // n=4 → 1.53412, n=10 → 1.95996, n=100 → 2.80703.
    assert(math.abs(t4 - 1.53412) < 1e-4)
    assert(math.abs(chauvenetThreshold(10) - 1.95996) < 1e-4)
    assert(math.abs(t100 - 2.80703) < 1e-4)
  }
}
