package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project,
  Window => LWindow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Positions.withPos must equal `row_number() OVER (PARTITION BY FILE_ID
  * ORDER BY <ordCols>) - 1` for every (file, order) layout — including bucket
  * boundaries, sparse/filtered order values, ties on the leading order column
  * and constant FILE_ID (the case whose plain-window form degenerates to a
  * single partition) — and its count column must equal the per-file
  * `count(*)`.
  */
class PositionsSpec extends SparkTestBase {
  import spark.implicits._

  private def check(df: DataFrame, bucketWidth: Long,
      ordCols: Seq[String] = Seq("ROWIDX"), countCol: Option[String] = None): Unit = {
    val got = Positions.withPos(df, ordCols = ordCols, bucketWidth = bucketWidth,
      countCol = countCol)
    val byFile = Window.partitionBy(col("FILE_ID"))
    val joined = got
      .withColumn("__exp",
        (row_number().over(byFile.orderBy(ordCols.map(col): _*)) - 1).cast("long"))
      .withColumn("__expN", count(lit(1)).over(byFile))
      .collect()
    joined.foreach { r =>
      assert(r.getAs[Long]("__pos") == r.getAs[Long]("__exp"), s"row $r: __pos != expected")
      countCol.foreach(n =>
        assert(r.getAs[Long](n) == r.getAs[Long]("__expN"), s"row $r: $n != file count"))
    }
    assert(got.columns.toSet == df.columns.toSet ++ countCol + "__pos")
  }

  /** 4-key rows in scrambled order: the leading key repeats (1-4 rows per
    * value), so ties on it are broken only by the later keys. An RDD, not a
    * local Seq, so a literal FILE_ID stays a foldable Project expression
    * (as over a parquet scan) instead of being folded into a LocalRelation.
    */
  private def fourKey(files: Int): DataFrame = {
    val rows = for {
      k1 <- 0L until 120L
      j <- 0 until (1 + (k1 % 4).toInt)
    } yield (k1, (7 * j + k1) % 5, (3 * j) % 4, ((k1 + j) * 13) % 11)
    val df = spark.sparkContext.parallelize(new scala.util.Random(11).shuffle(rows), 3)
      .toDF("k1", "k2", "k3", "k4")
    df.withColumn("FILE_ID",
      if (files == 1) lit("0") else (col("k1") % files).cast("string"))
  }

  test("matches per-file row_number on multi-file sparse indices") {
    val rows = for {
      f <- Seq("a", "b", "c")
      i <- 0L until 50L
      if (i + f.length) % 3 != 0 // sparse: filtered positions
    } yield (f, i * 7) // non-dense order values
    check(rows.toDF("FILE_ID", "ROWIDX"), bucketWidth = 16)
  }

  test("matches on constant FILE_ID across bucket boundaries") {
    check((0L until 200L).map(i => ("only", i)).toDF("FILE_ID", "ROWIDX"), bucketWidth = 32)
  }

  test("matches when a file is smaller than one bucket") {
    check(Seq(("x", 5L), ("x", 1L), ("y", 0L)).toDF("FILE_ID", "ROWIDX"), bucketWidth = 1024)
  }

  test("4-key order: leading key crosses buckets, ties broken by later keys, 1 and 4 files") {
    for (files <- Seq(1, 4))
      check(fourKey(files), bucketWidth = 16, ordCols = Seq("k1", "k2", "k3", "k4"))
  }

  test("count column equals the per-file count(*)") {
    for (files <- Seq(1, 4))
      check(fourKey(files), bucketWidth = 16, ordCols = Seq("k1", "k2", "k3", "k4"),
        countCol = Some("__n"))
  }

  test("constant FILE_ID: unpartitioned windows run over the bucket counts, not the rows") {
    val got = Positions.withPos(fourKey(1), ordCols = Seq("k1", "k2", "k3", "k4"),
      bucketWidth = 16, countCol = Some("__n"))
    def overCounts(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case w: LWindow   => overCounts(w.child)
      case pr: Project  => overCounts(pr.child)
      case _            => false
    }
    val unpartitioned = got.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    // the constant key is folded away, so the offsets window is keyless ...
    assert(unpartitioned.nonEmpty, got.queryExecution.optimizedPlan.treeString)
    // ... but only over the per-bucket counts Aggregate
    unpartitioned.foreach { w =>
      assert(overCounts(w.child), s"unpartitioned window over rows:\n${w.treeString}")
    }
  }
}
