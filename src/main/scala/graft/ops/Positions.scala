package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dense per-file row positions without single-partition windows, for the
  * registry's observation fixture (`QueryUtil.obs`) and q_pipeline_validate.
  * The continuum and spectrum reductions number no rows: they compare
  * ROWIDX thresholds.
  *
  * `row_number() OVER (PARTITION BY FILE_ID ORDER BY ROWIDX)` is the natural
  * F9 position (ref continuum.py:161-171 positional slicing), but when a
  * fixture (or a genuinely single-file job) carries a CONSTANT FILE_ID,
  * Catalyst folds the partition key away and the window funnels every row
  * through one partition. The bucketed form here keeps the same values with
  * bounded parallelism regardless: row_number within (file, bucket)
  * partitions — the bucket is a monotone function of the LEADING order
  * column, so concatenating buckets in order preserves the global per-file
  * order, and ties on the leading column stay inside one bucket where the
  * later order columns break them — plus per-bucket cumulative offsets,
  * computed in-plan on the tiny per-(file, bucket) counts frame and
  * broadcast back (widen `bucketWidth` at larger scales to bound that
  * frame). With a constant FILE_ID the offsets' running sum is itself an
  * unpartitioned window, but over the counts frame only, never the rows
  * (pinned by `PositionsSpec`).
  */
object Positions {

  /** Note on the extra pass: the broadcast offsets subtree evaluates `df`
    * once beside the caller's main scan — two scans of the upstream chain
    * total, but ZERO separate driver actions (the former driver-side
    * cumulative collect was a whole extra job per query — cold-JVM
    * scheduler+codegen latency the round-6 driver bench measured). Caching
    * `df` to avoid the second scan was MEASURED SLOWER at sf0.1 (cache
    * build of the wide frame costs more than the narrow re-scan, which
    * prunes to (fileCol, ordCols)); callers that already hold a cached
    * input simply pass it in.
    *
    * `countCol`, when given, carries each file's row count from the same
    * counts frame — a separate count would scan `df` once more.
    */
  def withPos(
      df: DataFrame,
      fileCol: String = "FILE_ID",
      ordCols: Seq[String] = Seq("ROWIDX"),
      out: String = "__pos",
      bucketWidth: Long = 65536L,
      countCol: Option[String] = None): DataFrame = {
    val withB = df
      .withColumn("__pf", col(fileCol).cast("string"))
      .withColumn("__pbkt", (col(ordCols.head).cast("long") / bucketWidth).cast("long"))
    // Per-bucket cumulative offsets, computed IN-PLAN on the tiny counts
    // frame (one row per (file, bucket)): running sum of preceding buckets
    // within each file. The frame is O(files × buckets) rows, so the
    // per-file window is trivially cheap and the result broadcasts.
    val wOff = Window.partitionBy(col("__pf")).orderBy(col("__pbkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs0 = withB.groupBy(col("__pf"), col("__pbkt"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__off", coalesce(sum(col("__c")).over(wOff), lit(0L)))
    val offs = countCol
      .fold(offs0)(n => offs0.withColumn(n, sum(col("__c")).over(Window.partitionBy(col("__pf")))))
      .drop("__c")
    val w = Window.partitionBy(col("__pf"), col("__pbkt")).orderBy(ordCols.map(col): _*)
    withB.join(broadcast(offs), Seq("__pf", "__pbkt"))
      .withColumn(out, (row_number().over(w) - 1).cast("long") + col("__off"))
      .drop("__pf", "__pbkt", "__off")
  }
}
