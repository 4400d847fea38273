package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query subset (local iteration —
    // the driver always runs the full registry)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // SPARK_GRAFT_AQE=false produces the AQE-off twin dump for the
    // adaptive-invariance certificate (results must not depend on
    // runtime re-planning; default matches the driver: AQE on).
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "true")
    val spark = GraftSession.create(confs = Seq("spark.sql.adaptive.enabled" -> aqe))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Same inter-query cleanup as Bench: cached/checkpointed blocks from
      // one query must not accumulate across the 60+ query sequence.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    spark.stop()
  }

  /** The full oracle registry as a JSON object — shared by the driver dump
    * above and `OracleTypeLintSpec` (which feeds it to DuckDB `DESCRIBE`).
    * JSON string escape covers backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  def oracleJson: String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
