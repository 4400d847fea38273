package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.functions.{ArrayOps, VectorSum}

/** A1/A2/A3/A10 (ref utils.py:105-124; continuum.py:24-28; spectrum.py:63-67). */
class IntegrationSpec extends SparkTestBase {
  import spark.implicits._

  test("A2 vector-sum Aggregator equals the posexplode formulation") {
    val df = Seq(Seq(1.0, 2.0, 3.0), Seq(10.0, 20.0, 30.0), Seq(0.5, 0.25, 0.125))
      .toDF("DATA")
    val agg = Integration.spectrum(df).as[Seq[Double]].head()
    val exploded = df.select(posexplode($"DATA"))
      .groupBy($"pos").agg(sum($"col").as("s"))
      .orderBy($"pos").as[(Int, Double)].collect().map(_._2).toSeq
    assert(agg == exploded)
    assert(agg == Seq(11.5, 22.25, 33.125))
  }

  test("A2 widens the buffer for ragged rows (shorter rows pad with 0)") {
    val out = Integration.spectrum(Seq(Seq(1.0, 2.0), Seq(10.0, 20.0, 30.0)).toDF("DATA"))
      .as[Seq[Double]].head()
    assert(out == Seq(11.0, 22.0, 30.0))
  }

  test("A2 grouped form produces one spectrum per key") {
    val df = Seq(("a", Seq(1.0, 1.0)), ("b", Seq(2.0, 3.0)), ("a", Seq(4.0, 5.0)))
      .toDF("k", "DATA")
    val m = Integration.spectrumBy(df, $"k").as[(String, Seq[Double])].collect().toMap
    assert(m == Map("a" -> Seq(5.0, 6.0), "b" -> Seq(2.0, 3.0)))
  }

  test("A1 continuum pairs relative seconds with per-row array sums") {
    val df = Seq(("2024-01-01 00:00:05", Seq(1.0, 2.0)), ("2024-01-01 00:01:00", Seq(3.0, 4.0)))
      .toDF("s", "DATA").withColumn("DATE_OBS", to_timestamp($"s"))
    val out = Integration.continuum(df, to_timestamp(lit("2024-01-01 00:00:00")))
      .orderBy($"t").as[(Double, Double)].collect()
    assert(out.toSeq == Seq((5.0, 3.0), (60.0, 7.0)))
  }

  test("A3 sweep-interleave factor = |IFNUM| x |PLNUM| distinct (ref continuum.py:24-28)") {
    val df = Seq((0, 0), (0, 1), (1, 0), (1, 1), (0, 0)).toDF("IFNUM", "PLNUM")
    assert(Integration.sweepInterleaveDF(df).as[Long].collect().toSeq == Seq(4L))
  }

  test("A10 on-off difference is element-wise") {
    val d = Seq((Seq(5.0, 7.0), Seq(1.0, 2.0))).toDF("on", "off")
      .select(Integration.onOffDiff($"on", $"off")).as[Seq[Double]].head()
    assert(d == Seq(4.0, 5.0))
  }
}
