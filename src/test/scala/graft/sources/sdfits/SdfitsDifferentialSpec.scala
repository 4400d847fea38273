package graft.sources.sdfits

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Differential property test of the SDFITS connector: seeded random
  * filters, grouped MIN/MAX/SUM/COUNT and `channels` slices read through
  * `format("sdfits")` (with its filter, aggregate and channel pushdowns, and
  * the key-grouped report on stamped files) must equal the same query over
  * the same rows decoded by [[SdfitsFormat]] here and loaded with
  * `createDataFrame` — a LocalRelation, where no pushdown applies. Run over
  * a stamped directory (`SdfitsWriter.writeObservations`) and an unstamped
  * copy of the same files. Every value is a small multiple of 1/8, so sums
  * are exact in any order.
  */
class SdfitsDifferentialSpec extends SparkTestBase {
  import spark.implicits._

  private val channels = 6

  private lazy val dirs: (String, String) = {
    val stamped = Files.createTempDirectory("graft-sdfits-diff").toString
    val frame = spark.range(0, 90, 1, 3).select(
      concat(lit("f"), (col("id") % 3).cast("string")).as("FILE_ID"),
      (col("id") * 11 % 90).as("ROWIDX"),
      (col("id") % 4).cast("int").as("IFNUM"),
      ((col("id") % 13) / 8.0).as("ELEVATIO"),
      ((col("id") % 5) / 4.0).cast("float").as("TSYS"),
      when(col("id") % 3 === 0, "onoff:on").otherwise("onoff:off").as("OBSMODE"),
      array((0 until channels).map(c => ((col("id") * (c + 1)) % 17) / 8.0): _*).as("DATA"))
    SdfitsWriter.writeObservations(frame, "FILE_ID", Seq("ROWIDX"), stamped,
      SdfitsWriter.Header()).collect()
    val unstamped = Files.createTempDirectory("graft-sdfits-diff-un").toString
    (0 until 3).foreach { f =>
      SdfitsWriter.writeObservation(frame.filter(col("FILE_ID") === s"f$f"), Seq("ROWIDX"),
        s"$unstamped/obs_f$f.fits", SdfitsWriter.Header())
    }
    (stamped, unstamped)
  }

  /** The directory's rows decoded here, file by file, as a LocalRelation. */
  private def reference(dir: String): DataFrame = {
    val schema = spark.read.format("sdfits").load(dir).schema
    val conf = graft.sources.HadoopConf.driver()
    val rows = SdfitsTableProvider.listFiles(dir, conf).flatMap { f =>
      val bytes = SdfitsTableProvider.readFully(f, conf)
      val (_, t) = SdfitsFormat.open(bytes)
      val offsets = t.cols.scanLeft(0)(_ + _.bytes)
      (0 until t.nRows).map { r =>
        Row.fromSeq(t.cols.indices.map { i =>
          SdfitsFormat.decodeCell(bytes, t, r, t.cols(i), offsets(i)) match {
            case a: Array[Double] => a.toSeq
            case v => v
          }
        })
      }
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def same(q: String, a: DataFrame, b: DataFrame): Unit = {
    def rows(df: DataFrame) = df.collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toList
      case v => v
    }.toString).sorted.toSeq
    assert(rows(a) == rows(b), q)
  }

  private def literal(rnd: Random, c: String): Any = c match {
    case "FILE_ID"  => s"f${rnd.nextInt(4)}"
    case "ROWIDX"   => rnd.nextInt(95).toLong
    case "IFNUM"    => rnd.nextInt(5)
    case "ELEVATIO" => rnd.nextInt(14) / 8.0
    case "TSYS"     => rnd.nextInt(6) / 4.0f
    case "OBSMODE"  => if (rnd.nextBoolean()) "onoff:on" else "onoff:off"
  }

  private val scalars = Seq("FILE_ID", "ROWIDX", "IFNUM", "ELEVATIO", "TSYS", "OBSMODE")

  private def predicate(rnd: Random): (String, Column) = {
    val c = scalars(rnd.nextInt(scalars.length))
    val v = literal(rnd, c)
    rnd.nextInt(6) match {
      case 0 => (s"$c = $v", col(c) === v)
      case 1 => (s"$c < $v", col(c) < v)
      case 2 => (s"$c <= $v", col(c) <= v)
      case 3 => (s"$c > $v", col(c) > v)
      case 4 => (s"$c >= $v", col(c) >= v)
      case _ =>
        val vs = Seq.fill(1 + rnd.nextInt(3))(literal(rnd, c))
        (s"$c IN ${vs.mkString("(", ",", ")")}", col(c).isin(vs: _*))
    }
  }

  private def filters(rnd: Random): (String, Column) = {
    val ps = Seq.fill(1 + rnd.nextInt(3))(predicate(rnd))
    (ps.map(_._1).mkString(" AND "), ps.map(_._2).reduce(_ && _))
  }

  private def forBoth(body: (String, DataFrame, DataFrame, Random) => Unit): Unit = {
    val (stamped, unstamped) = dirs
    for ((dir, seed) <- Seq(stamped -> 7L, unstamped -> 8L)) {
      val ref = reference(dir)
      body(dir, spark.read.format("sdfits").load(dir), ref, new Random(seed))
    }
  }

  test("random filters over every column match the decoded rows") {
    forBoth { (dir, src, ref, rnd) =>
      (0 until 25).foreach { _ =>
        val (q, p) = filters(rnd)
        same(s"$dir: $q", src.filter(p), ref.filter(p))
      }
    }
  }

  test("random grouped and global MIN/MAX/SUM/COUNT match the decoded rows") {
    val numeric = Seq("ROWIDX", "IFNUM", "ELEVATIO", "TSYS")
    val keys = Seq("FILE_ID", "IFNUM", "OBSMODE")
    forBoth { (dir, src, ref, rnd) =>
      (0 until 25).foreach { _ =>
        val by = keys.filter(_ => rnd.nextBoolean())
        val aggs = Seq.fill(1 + rnd.nextInt(3)) {
          val c = (numeric ++ Seq("FILE_ID", "OBSMODE"))(rnd.nextInt(numeric.length + 2))
          rnd.nextInt(4) match {
            case 0 => min(c)
            case 1 => max(c)
            case 2 => if (numeric.contains(c)) sum(c) else count(c)
            case _ => count(lit(1))
          }
        }
        val (q, p) = if (rnd.nextBoolean()) filters(rnd) else ("true", lit(true))
        def run(df: DataFrame) = df.filter(p).groupBy(by.map(col): _*).agg(aggs.head, aggs.tail: _*)
        same(s"$dir: WHERE $q GROUP BY ${by.mkString(",")} AGG ${aggs.mkString(",")}",
          run(src), run(ref))
      }
    }
  }

  test("random channel slices, as the option and as a slice projection, match the decoded rows") {
    forBoth { (dir, _, ref, rnd) =>
      (0 until 12).foreach { _ =>
        val start = rnd.nextInt(channels + 2)
        val n = rnd.nextInt(channels + 2)
        val (q, p) = if (rnd.nextBoolean()) filters(rnd) else ("true", lit(true))
        val expected = ref.filter(p).select(col("FILE_ID"), col("ROWIDX"),
          slice(col("DATA"), start + 1, n).as("DATA"))
        val viaOption = spark.read.format("sdfits").option("channels", s"$start:$n").load(dir)
          .filter(p).select("FILE_ID", "ROWIDX", "DATA")
        same(s"$dir: channels $start:$n WHERE $q", viaOption, expected)
        val viaSlice = spark.read.format("sdfits").load(dir).filter(p)
          .select(col("FILE_ID"), col("ROWIDX"), slice(col("DATA"), start + 1, n).as("DATA"))
        same(s"$dir: slice(DATA, ${start + 1}, $n) WHERE $q", viaSlice, expected)
      }
    }
  }
}
