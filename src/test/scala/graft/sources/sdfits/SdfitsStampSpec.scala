package graft.sources.sdfits

import java.io.FileOutputStream
import java.nio.file.Files

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{KeyGroupedPartitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import SdfitsFormat.{ColSpec, KeyColumnCard, KeyValueCard, SdfitsVerificationException, SortColumnsCard}

/** The key and sort cards `SdfitsWriter.writeObservations` stamps, and what
  * the reader makes of them: a key-grouped partitioning and a (key, sort
  * columns) order when every file carries them, nothing otherwise, and a
  * failed read when a file's rows break what its cards say.
  */
class SdfitsStampSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val cols = Seq(ColSpec("FILE_ID", 4, 'A'), ColSpec("ROWIDX", 1, 'K'), ColSpec("VAL", 1, 'D'))

  /** One file with the given rows and, when `key` is set, the three cards. */
  private def writeRaw(path: String, key: Option[String], rows: Seq[(String, Long, Double)]): Unit = {
    val cards = key.toSeq.flatMap(k =>
      Seq(KeyColumnCard -> "FILE_ID", KeyValueCard -> k, SortColumnsCard -> "ROWIDX"))
    val out = new FileOutputStream(path)
    try SdfitsFormat.write(out, Nil, cards, Nil, cols,
      rows.iterator.map { case (f, r, v) => Seq[Any](f, r, v) }, rows.length)
    finally out.close()
  }

  private def rowsOf(key: String, idx: Seq[Long]): Seq[(String, Long, Double)] =
    idx.map(i => (key, i, i * 0.5))

  private def newDir(tag: String): String = Files.createTempDirectory(tag).toString

  private def read(dir: String): DataFrame = spark.read.format("sdfits").load(dir)

  /** Rows per key, through an aggregate the scan cannot push down (a
    * pushed one returns partial rows and reports nothing). */
  private def rowsPerKey(df: DataFrame): DataFrame =
    df.groupBy("FILE_ID").agg(sum(col("ROWIDX") * 0 + 1).as("n"))

  private def shuffles(df: DataFrame): Int = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }.length
  }

  /** The cause chain of a failed action, so a task-side verification
    * failure is found under Spark's wrapping. */
  private def failure(body: => Any): Throwable = {
    val e = intercept[SparkException](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .find(_.isInstanceOf[SdfitsVerificationException]).getOrElse(e)
  }

  test("writeObservations stamps the cards; the directory reads key-grouped and sorted") {
    val dir = newDir("graft-stamp")
    val frame = spark.range(60).select(
      concat(lit("f"), (col("id") % 3).cast("string")).as("FILE_ID"),
      (col("id") * 7 % 60).as("ROWIDX"), (col("id") * 0.25).as("VAL"),
      concat(lit("m"), (col("id") % 2).cast("string")).as("MODE"))
    SdfitsWriter.writeObservations(frame, "FILE_ID", Seq("ROWIDX", "MODE"), dir,
      SdfitsWriter.Header()).collect()
    val h = SdfitsTableProvider.readPrimaryHeader(s"$dir/obs_f1.fits", graft.sources.HadoopConf.driver())
    assert(h.value(KeyColumnCard).contains("FILE_ID"))
    assert(h.value(KeyValueCard).contains("f1"))
    // a string sort column ends the stamped list
    assert(h.value(SortColumnsCard).contains("ROWIDX"))

    val df = read(dir)
    val plan = df.queryExecution.executedPlan
    plan.outputPartitioning match {
      case k: KeyGroupedPartitioning => assert(k.numPartitions == 3)
      case other => fail(s"expected a key-grouped partitioning, got $other")
    }
    assert(plan.outputOrdering.map(_.child.references.head.name) == Seq("FILE_ID", "ROWIDX"))
    val counts = rowsPerKey(df)
    assert(shuffles(counts) == 0)
    assert(counts.as[(String, Long)].collect().toMap == Map("f0" -> 20L, "f1" -> 20L, "f2" -> 20L))
    // pruning the key away reports nothing
    assert(read(dir).select("VAL").queryExecution.executedPlan.outputPartitioning
      .isInstanceOf[UnknownPartitioning])
  }

  test("a stamped file whose FILE_ID cells disagree with its key card fails the read") {
    val dir = newDir("graft-stamp-key")
    writeRaw(s"$dir/a.fits", Some("a"), rowsOf("a", 0L until 10L))
    writeRaw(s"$dir/b.fits", Some("b"), rowsOf("b", 0L until 5L) ++ rowsOf("a", 5L until 10L))
    val e = failure(read(dir).collect())
    assert(e.isInstanceOf[SdfitsVerificationException], e)
    assert(e.getMessage.contains("differs from its KEYVAL card 'b'"), e.getMessage)
  }

  test("a stamped file whose ROWIDX is not ascending fails the read") {
    val dir = newDir("graft-stamp-order")
    writeRaw(s"$dir/a.fits", Some("a"), rowsOf("a", Seq(0L, 1L, 2L, 4L, 3L, 5L)))
    val e = failure(read(dir).select("FILE_ID", "ROWIDX").collect())
    assert(e.isInstanceOf[SdfitsVerificationException], e)
    assert(e.getMessage.contains("ROWIDX 3 at returned row 4 follows 4"), e.getMessage)
    // with ROWIDX pruned the scan reports no order, so nothing is checked
    assert(read(dir).select("FILE_ID").count() == 6)
  }

  test("a directory holding one unstamped file reports no partitioning") {
    val dir = newDir("graft-stamp-mixed")
    writeRaw(s"$dir/a.fits", Some("a"), rowsOf("a", 0L until 10L))
    writeRaw(s"$dir/b.fits", None, rowsOf("b", 0L until 10L))
    val df = read(dir)
    assert(df.queryExecution.executedPlan.outputPartitioning.isInstanceOf[UnknownPartitioning])
    assert(df.queryExecution.executedPlan.outputOrdering.isEmpty)
    val counts = rowsPerKey(df)
    assert(shuffles(counts) == 1)
    assert(counts.as[(String, Long)].collect().toMap == Map("a" -> 10L, "b" -> 10L))
  }

  /** Whether the scan under `df` took the aggregate. */
  private def pushed(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("PushedAggregates")

  test("a pushed-down aggregate grouped by the stamped key is complete: no shuffle") {
    val stamped = newDir("graft-stamp-agg")
    writeRaw(s"$stamped/a.fits", Some("a"), rowsOf("a", 0L until 10L))
    writeRaw(s"$stamped/b.fits", Some("b"), rowsOf("b", 0L until 4L))
    val counts = read(stamped).groupBy("FILE_ID").count()
    assert(pushed(counts))
    assert(shuffles(counts) == 0)
    assert(counts.as[(String, Long)].collect().toMap == Map("a" -> 10L, "b" -> 4L))
    val extrema = read(stamped).filter(col("ROWIDX") >= 2).groupBy("FILE_ID", "ROWIDX")
      .agg(max("VAL").as("m"), sum("ROWIDX").as("s"), avg("VAL").as("a"))
    assert(pushed(extrema) && shuffles(extrema) == 0)
    assert(extrema.count() == 10)
    assert(extrema.filter(col("FILE_ID") === "a" && col("ROWIDX") === 3).as[(String, Long, Double, Long, Double)]
      .head() == (("a", 3L, 1.5, 3L, 1.5)))
    // grouped by another column, over unstamped files, or over two files
    // sharing a key, the partial rows merge through one shuffle as before
    val byRow = read(stamped).groupBy("ROWIDX").count()
    assert(pushed(byRow) && shuffles(byRow) == 1)
    val unstamped = newDir("graft-unstamped-agg")
    writeRaw(s"$unstamped/a.fits", None, rowsOf("a", 0L until 10L))
    writeRaw(s"$unstamped/b.fits", None, rowsOf("b", 0L until 4L))
    val plain = read(unstamped).groupBy("FILE_ID").count()
    assert(pushed(plain) && shuffles(plain) == 1)
    assert(plain.as[(String, Long)].collect().toMap == Map("a" -> 10L, "b" -> 4L))
    val shared = newDir("graft-stamp-agg-shared")
    writeRaw(s"$shared/a1.fits", Some("a"), rowsOf("a", 0L until 6L))
    writeRaw(s"$shared/a2.fits", Some("a"), rowsOf("a", 6L until 10L))
    val merged = read(shared).groupBy("FILE_ID").count()
    assert(pushed(merged) && shuffles(merged) == 1)
    assert(merged.as[(String, Long)].collect().toMap == Map("a" -> 10L))
  }

  test("a pushed-down aggregate over a file whose key cells disagree with its card fails") {
    val dir = newDir("graft-stamp-agg-key")
    writeRaw(s"$dir/a.fits", Some("a"), rowsOf("a", 0L until 10L))
    writeRaw(s"$dir/b.fits", Some("b"), rowsOf("b", 0L until 5L) ++ rowsOf("a", 5L until 10L))
    val counts = read(dir).groupBy("FILE_ID").count()
    assert(pushed(counts))
    val e = failure(counts.collect())
    assert(e.isInstanceOf[SdfitsVerificationException], e)
    assert(e.getMessage.contains("FILE_ID 'a' at row 5 differs from its KEYVAL card 'b'"), e.getMessage)
  }

  test("two stamped files with one key read correctly: Spark groups them and drops the order") {
    val dir = newDir("graft-stamp-dup")
    writeRaw(s"$dir/a1.fits", Some("a"), rowsOf("a", 0L until 10L by 2L))
    writeRaw(s"$dir/a2.fits", Some("a"), rowsOf("a", 1L until 10L by 2L))
    writeRaw(s"$dir/b.fits", Some("b"), rowsOf("b", 0L until 4L))
    val df = read(dir)
    val plan = df.queryExecution.executedPlan
    assert(plan.outputPartitioning.numPartitions == 2)
    assert(plan.outputOrdering.isEmpty)
    // a per-key operator sorted by ROWIDX still sees each key's rows in order
    val perKey = df.groupBy(col("FILE_ID")).as[String, (String, Long, Double)]
      .flatMapSortedGroups(col("ROWIDX"))((k, it) => Iterator.single((k, it.map(_._2).toSeq)))
      .collect().toMap
    assert(perKey == Map("a" -> (0L until 10L), "b" -> (0L until 4L)))
    assert(shuffles(rowsPerKey(df)) == 0)
  }
}
