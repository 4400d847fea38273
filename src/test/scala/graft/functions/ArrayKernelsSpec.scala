package graft.functions

import java.lang.Double.doubleToRawLongBits

import org.apache.spark.sql.{Column, DataFrame, Encoder, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestBase
import graft.model.HeaderRecord
import graft.pipeline.Pipeline
import graft.sources.sdfits.SdfitsWriter

/** The native [[ArrayOps]] kernels and [[VectorSum]] against the forms they
  * replaced: the higher-order functions and the typed `Aggregator`, kept
  * here as references. Values are compared bit for bit
  * (`doubleToRawLongBits`), schemas field for field, on codegen and on the
  * interpreted path.
  */
class ArrayKernelsSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** The higher-order-function forms `ArrayOps` used to build. */
  private object Hof {
    def arraySum(d: Column): Column =
      aggregate(d, lit(0.0), (acc, x) => acc + coalesce(x.cast("double"), lit(0.0)))
    def arrayMean(d: Column): Column = {
      val n = aggregate(d, lit(0L), (acc, x) => acc + when(x.isNotNull, 1L).otherwise(0L))
      arraySum(d) / when(n > 0, n.cast("double"))
    }
    def maskNaN(d: Column): Column =
      transform(d, x => when(x.isNull || isnan(x), lit(null).cast("double")).otherwise(x.cast("double")))
    def fillNulls(d: Column, v: Double = 0.0): Column =
      transform(d, x => coalesce(x.cast("double"), lit(v)))
    def pickChannels(d: Column, idx: Array[Int]): Column =
      transform(array(idx.map(i => lit(i)).toSeq: _*), i => element_at(d, i + 1))
    def vecDiff(a: Column, b: Column): Column = zip_with(a, b, (x, y) => x - y)
    def vecDivide(a: Column, d: Column): Column = zip_with(a, d, (x, y) => x / y)
  }

  /** The typed `Aggregator` `VectorSum.vecSum` used to wrap. */
  private object RefVectorSum extends Aggregator[Seq[Double], Array[Double], Seq[Double]] {
    override def zero: Array[Double] = Array.emptyDoubleArray
    override def reduce(acc: Array[Double], xs: Seq[Double]): Array[Double] = {
      if (xs == null) return acc
      val out = if (acc.length >= xs.length) acc else java.util.Arrays.copyOf(acc, xs.length)
      var i = 0
      val it = xs.iterator
      while (it.hasNext) { out(i) += it.next(); i += 1 }
      out
    }
    override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      val (base, add) = if (a.length >= b.length) (a, b) else (b, a)
      var i = 0
      while (i < add.length) { base(i) += add(i); i += 1 }
      base
    }
    override def finish(acc: Array[Double]): Seq[Double] = acc.toSeq
    override def bufferEncoder: Encoder[Array[Double]] = ExpressionEncoder[Array[Double]]()
    override def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder[Seq[Double]]()
  }
  private lazy val refVecSum = udaf(RefVectorSum, ExpressionEncoder[Seq[Double]]())

  private val specials = Array(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
    -0.0, 0.0, Double.MinPositiveValue, -Double.MaxValue)

  /** Random arrays: null elements, NaN, ±Inf, −0.0, empty and null arrays. */
  private def randomArray(rnd: scala.util.Random, zeros: Boolean): Seq[Any] =
    if (rnd.nextInt(10) == 0) null
    else Seq.fill(rnd.nextInt(7)) {
      rnd.nextInt(6) match {
        case 0 => null
        case 1 =>
          val s = specials(rnd.nextInt(specials.length))
          if (!zeros && s == 0.0) 1.5 else s
        case _ => rnd.nextGaussian() * 100
      }
    }

  private val pairSchema = StructType(Seq(
    StructField("a", ArrayType(DoubleType, containsNull = true)),
    StructField("b", ArrayType(DoubleType, containsNull = true))))

  /** An RDD-backed frame: a local Seq would be folded on the driver,
    * bypassing the generated code.
    */
  private def pairs(seed: Int, n: Int, zeros: Boolean): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = Seq.fill(n)(Row(randomArray(rnd, zeros), randomArray(rnd, zeros)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), pairSchema)
  }

  /** Doubles as raw bits, recursively, so NaN payloads and −0.0 compare. */
  private def bits(v: Any): Any = v match {
    case d: Double                  => doubleToRawLongBits(d)
    case s: scala.collection.Seq[_] => s.toSeq.map(bits)
    case r: Row                     => r.toSeq.map(bits)
    case other                      => other
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** (name, native, HOF) over columns `a` and `b`. */
  private def kernels(pick: Array[Int]): Seq[(String, Column, Column)] = Seq(
    ("maskNaN", ArrayOps.maskNaN($"a"), Hof.maskNaN($"a")),
    ("arraySum", ArrayOps.arraySum($"a"), Hof.arraySum($"a")),
    ("arraySum∘maskNaN", ArrayOps.arraySum(ArrayOps.maskNaN($"a")), Hof.arraySum(Hof.maskNaN($"a"))),
    ("arrayMean", ArrayOps.arrayMean($"a"), Hof.arrayMean($"a")),
    ("fillNulls", ArrayOps.fillNulls($"a"), Hof.fillNulls($"a")),
    ("fillNulls(-0.0)", ArrayOps.fillNulls($"a", -0.0), Hof.fillNulls($"a", -0.0)),
    ("fillNulls(NaN)", ArrayOps.fillNulls($"a", Double.NaN), Hof.fillNulls($"a", Double.NaN)),
    ("pickChannels", ArrayOps.pickChannels($"a", pick), Hof.pickChannels($"a", pick)),
    ("vecDiff", ArrayOps.vecDiff($"a", $"b"), Hof.vecDiff($"a", $"b")),
    ("vecDivide", ArrayOps.vecDivide($"a", $"b"), Hof.vecDivide($"a", $"b")))

  /** Every kernel against its HOF form on `df`: schema and bits. */
  private def assertSame(df: DataFrame, pick: Array[Int]): Unit =
    for ((name, native, hof) <- kernels(pick)) {
      val out = df.select(native.as("k"), hof.as("k"))
      assert(out.schema(0) == out.schema(1), name)
      out.collect().foreach(r => assert(bits(r.get(0)) == bits(r.get(1)), s"$name: $r"))
    }

  test("every kernel equals its HOF form bit for bit without ANSI (zero divisors, short rows)") {
    withConf("spark.sql.ansi.enabled" -> "false") {
      assertSame(pairs(1, 400, zeros = true), Array(0, 2, 5, 1))
      withConf(interpreted: _*)(assertSame(pairs(2, 200, zeros = true), Array(3, 0)))
    }
  }

  test("every kernel equals its HOF form bit for bit under ANSI") {
    // no zero divisor and no index past a row's end: each would throw
    val df = pairs(3, 400, zeros = false)
      .filter(coalesce(size($"a"), lit(1)) >= 1)
    withConf("spark.sql.ansi.enabled" -> "true") {
      assertSame(df, Array(0, 0))
      withConf(interpreted: _*)(assertSame(df, Array(0)))
    }
  }

  test("float arrays read as doubles, as the HOF forms cast each element") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(Seq(1.5f, Float.NaN, -0.0f, null, Float.PositiveInfinity)), Row(null)), 2),
      StructType(Seq(StructField("a", ArrayType(FloatType, containsNull = true)))))
    for ((name, native, hof) <- Seq(
        ("maskNaN", ArrayOps.maskNaN($"a"), Hof.maskNaN($"a")),
        ("arraySum", ArrayOps.arraySum($"a"), Hof.arraySum($"a")),
        ("fillNulls", ArrayOps.fillNulls($"a"), Hof.fillNulls($"a")))) {
      val out = df.select(native, hof)
      assert(out.schema(0).dataType == out.schema(1).dataType, name)
      out.collect().foreach(r => assert(bits(r.get(0)) == bits(r.get(1)), s"$name: $r"))
    }
  }

  private def failure(df: => DataFrame): String =
    intercept[Exception](df.collect()).toString

  test("ANSI: a zero divisor and an index past the end throw the HOF forms' errors") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(Seq(1.0, 2.0), Seq(1.0, -0.0))), 1), pairSchema)
    withConf("spark.sql.ansi.enabled" -> "true") {
      for (c <- Seq(ArrayOps.vecDivide($"a", $"b"), Hof.vecDivide($"a", $"b")))
        assert(failure(df.select(c)).contains("DIVIDE_BY_ZERO"))
      for (c <- Seq(ArrayOps.pickChannels($"a", Array(2)), Hof.pickChannels($"a", Array(2))))
        assert(failure(df.select(c)).contains("INVALID_ARRAY_INDEX_IN_ELEMENT_AT"))
    }
    // a null operand wins over a zero divisor, as in Divide
    val nullOver0 = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(Seq(null), Seq(0.0))), 1), pairSchema)
    withConf("spark.sql.ansi.enabled" -> "true") {
      assert(nullOver0.select(ArrayOps.vecDivide($"a", $"b")).head().getSeq[Any](0) == Seq(null))
    }
  }

  test("pickChannels refuses a negative index and maps a null row to nulls") {
    intercept[IllegalArgumentException](ArrayOps.pickChannels($"a", Array(0, -1)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(null, null)), 1), pairSchema)
    assert(df.select(ArrayOps.pickChannels($"a", Array(0, 1))).head().getSeq[Any](0) == Seq(null, null))
  }

  test("pickChannels types a nullable input's result as holding nulls, under ANSI too") {
    def frame(nullable: Boolean, rows: Row*): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), StructType(Seq(
        StructField("a", ArrayType(FloatType, containsNull = false), nullable))))
    val nullableIn = frame(nullable = true, Row(Seq(1.5f, 2.5f)), Row(null))
    val required = frame(nullable = false, Row(Seq(1.5f, 2.5f)))
    for (ansi <- Seq("true", "false"); mode <- Seq(Nil, interpreted))
      withConf(("spark.sql.ansi.enabled" -> ansi) +: mode: _*) {
        val out = nullableIn.select(ArrayOps.pickChannels($"a", Array(1, 0)))
        assert(out.schema(0).dataType == ArrayType(FloatType, containsNull = true), s"ansi=$ansi")
        assert(out.collect().map(_.getSeq[Any](0)).toSeq == Seq(Seq(2.5f, 1.5f), Seq(null, null)))
        // a required input without null elements (SDFITS DATA) keeps its type
        val kept = required.select(ArrayOps.pickChannels($"a", Array(1))).schema(0).dataType
        assert(kept == ArrayType(FloatType, containsNull = ansi == "false"), s"ansi=$ansi")
      }
  }

  test("vecSum pins: null rows skipped, null elements add 0.0, ragged rows widen, no rows give []") {
    val schema = StructType(Seq(StructField("k", IntegerType),
      StructField("v", ArrayType(DoubleType, containsNull = true))))
    def sums(rows: Row*): Map[Int, Seq[Double]] =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .groupBy($"k").agg(VectorSum.vecSum($"v").as("s"))
        .as[(Int, Seq[Double])].collect().toMap
    assert(sums(Row(1, Seq(1.0, 2.0)), Row(1, Seq(10.0)), Row(1, Seq(-0.0, 0.0, 5.0))) ==
      Map(1 -> Seq(11.0, 2.0, 5.0)))
    assert(sums(Row(1, Seq(1.0, 2.0)), Row(1, null)) == Map(1 -> Seq(1.0, 2.0)))
    assert(sums(Row(1, Seq(1.0, null))) == Map(1 -> Seq(1.0, 0.0)))
    // the buffer starts at +0.0, so a lone −0.0 sums to +0.0
    assert(doubleToRawLongBits(sums(Row(1, Seq(-0.0)))(1).head) == 0L)
    val none = spark.range(0).select(array($"id".cast("double")).as("v"))
      .agg(VectorSum.vecSum($"v").as("s"))
    assert(none.head().getSeq[Double](0).isEmpty)
    assert(none.schema("s").dataType == ArrayType(DoubleType, containsNull = false))
    // a non-array input fails analysis, as the typed Aggregator's encoder did
    intercept[org.apache.spark.sql.AnalysisException](
      Seq("x").toDF("v").agg(VectorSum.vecSum($"v")))
    intercept[org.apache.spark.sql.AnalysisException](Seq("x").toDF("v").agg(refVecSum($"v")))
  }

  test("vecSum equals the Aggregator it replaced bit for bit") {
    val rnd = new scala.util.Random(11)
    val schema = StructType(Seq(StructField("k", IntegerType),
      StructField("v", ArrayType(DoubleType, containsNull = true))))
    def check(df: DataFrame): Unit = {
      val got = df.groupBy($"k").agg(VectorSum.vecSum($"v").as("n"), refVecSum($"v").as("r"))
        .orderBy($"k").collect()
      assert(got.nonEmpty)
      got.foreach(r => assert(bits(r.get(1)) == bits(r.get(2)), r))
      withConf(interpreted: _*) {
        val again = df.groupBy($"k").agg(VectorSum.vecSum($"v").as("n")).orderBy($"k").collect()
        assert(again.map(r => bits(r.get(1))).toSeq == got.map(r => bits(r.get(1))).toSeq)
      }
    }
    // any doubles, one partition: both sum each element in row order
    val anyRows = Seq.fill(300)(Row(rnd.nextInt(5), randomArray(rnd, zeros = true)))
    check(spark.createDataFrame(spark.sparkContext.parallelize(anyRows, 1), schema))
    // exactly summable values over four partitions: the partial merges
    // cannot round differently whatever their order
    val exact = Array(0.25, -1.5, 3.0, -0.0, Double.NaN, Double.PositiveInfinity)
    val exactRows = Seq.fill(300)(Row(rnd.nextInt(5),
      if (rnd.nextInt(12) == 0) null
      else Seq.fill(rnd.nextInt(6))(exact(rnd.nextInt(exact.length))).toSeq))
    check(spark.createDataFrame(spark.sparkContext.parallelize(exactRows, 4), schema))
  }

  /** Names of the higher-order functions in `plan`, cached plans included. */
  private def hofsIn(plan: SparkPlan): Seq[String] =
    collectWithSubqueries(plan) { case p => p }.flatMap { p =>
      val own = p.expressions.flatMap(_.collect { case h: HigherOrderFunction => h.prettyName })
      own ++ (p match {
        case m: InMemoryTableScanExec => hofsIn(m.relation.cachedPlan)
        case _                        => Nil
      })
    }

  /** The executed plan of every action `body` runs. */
  private def executedPlans(body: => Unit): Seq[SparkPlan] =
    graft.QueryProfile.record(spark)(body)._2.plans.map(_._2.executedPlan)

  test("Pipeline.run and runAll plan no higher-order function") {
    val header = HeaderRecord.Header(
      date = java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), obsmode = "onoff",
      obsfreq = 1400.0, obsbw = 80.0,
      history = HeaderRecord.parseHistory(Seq("DATAMODE HIRES", "START,STOP channels 0_3",
        "HIRES bands  1355, 1435")))
    // PipelineSpec's flat spike levels, with channel 1 NaN on every row
    val obs = (0 until 64).map { i =>
      val (cal, swp, level) =
        if (i < 8) (1, 0, 2.0) else if (i < 16) (0, 0, 0.5) else if (i < 48) (0, 1, 1.0)
        else if (i < 56) (0, 0, 0.5) else (1, 0, 2.0)
      ("0", i.toLong, new java.sql.Timestamp(1704067200000L + i * 1000L),
        Seq(level, Double.NaN, level, level), 0, 1, cal, swp,
        if (i < 32) "onoff:on" else "onoff:off", 1.0, 10.0, 50.0, 900.0, 45.0)
    }.toDF("FILE_ID", "ROWIDX", "DATE_OBS", "DATA", "IFNUM", "PLNUM", "CALSTATE",
      "SWPVALID", "OBSMODE", "TSYS", "TAMBIENT", "HUMIDITY", "PRESSURE", "ELEVATIO")
    val control = executedPlans(pairs(4, 8, zeros = true).select(Hof.maskNaN($"a")).collect())
    assert(control.flatMap(hofsIn).contains("transform"), "the guard sees a HOF")
    for (atmosphere <- Seq(false, true)) {
      val plans = executedPlans {
        val one = Pipeline.run(obs, header, 0, 1, atmosphere = atmosphere)
        one.continuum.collect(); one.spectrum.collect()
        val all = Pipeline.runAll(obs, header, 0, 1, atmosphere = atmosphere)
        all.continuum.collect(); all.spectrum.collect()
        spark.catalog.clearCache()
      }
      assert(plans.size >= 4)
      assert(plans.flatMap(hofsIn).isEmpty, s"atmosphere=$atmosphere")
    }
  }

  test("SDFITS cells with NaN, ±Inf and −0.0 read back through the connector unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-kernels-nan").toString
    val d = Seq(Seq(1.0, Double.NaN, -0.0), Seq(Double.PositiveInfinity, Double.NegativeInfinity, 2.5))
    val f = Seq(Seq(Float.NaN, -0.0f), Seq(Float.MaxValue, 1.25f))
    val df = Seq((0L, d(0), f(0)), (1L, d(1), f(1))).toDF("ROWIDX", "DATA", "F")
    SdfitsWriter.writeObservation(df, Seq("ROWIDX"), s"$dir/obs.fits", SdfitsWriter.Header())
    val back = spark.read.format("sdfits").load(s"$dir/obs.fits").orderBy($"ROWIDX").collect()
    assert(back.map(r => bits(r.getSeq[Double](1))).toSeq == d.map(bits))
    assert(back.map(r => r.getSeq[Float](2).map(java.lang.Float.floatToRawIntBits)).toSeq ==
      f.map(_.map(java.lang.Float.floatToRawIntBits)))
    // and through the kernels: NaN masked, the rest summed
    val sums = spark.read.format("sdfits").load(s"$dir/obs.fits").orderBy($"ROWIDX")
      .select(ArrayOps.arraySum(ArrayOps.maskNaN($"DATA"))).as[Double].collect()
    assert(sums(0) == 1.0 && sums(1).isNaN)
  }
}
