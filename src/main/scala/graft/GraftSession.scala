package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured. Every main and spec starts
  * Spark here, so tool numbers compare with Bench's: `local[n]` with n
  * shuffle partitions, UTC, nanosecond parquet timestamps read as longs
  * (events.parquet carries INT64 TIMESTAMP(NANOS); see `Tables.events`),
  * UI off, WARN logging.
  */
object GraftSession {

  /** Cores for mains: `SPARK_GRAFT_CPUS`, 4 when unset. */
  lazy val cpus: Int = envInt("SPARK_GRAFT_CPUS", 4)

  /** A positive integer from the environment; a value that does not parse
    * or is below 1 fails naming the variable and the value.
    */
  def envInt(name: String, default: Int, env: Map[String, String] = sys.env): Int =
    env.get(name) match {
      case None => default
      case Some(v) => v.trim.toIntOption.filter(_ >= 1).getOrElse(
        throw new IllegalArgumentException(s"$name must be an integer >= 1, got '$v'"))
    }

  /** The session (or the running one, via `getOrCreate`), plus `confs` on top. */
  def create(cores: Int = cpus, confs: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Waits (at most 60 s, then throws) until the async listener bus has
    * delivered every event posted so far, so listener- and status-store-fed
    * counts (job ids per group, stage bytes, executed plans) are complete.
    */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.graft.BusDrain.drain(spark.sparkContext, 60000L)
}
