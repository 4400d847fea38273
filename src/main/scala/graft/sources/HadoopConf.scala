package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** The Hadoop configuration of the sdfits and warc connectors and of the
  * writers that run their own jobs: the session's `newHadoopConf()`, so fs
  * credentials, `defaultFS` and custom schemes apply on the driver and in
  * every task alike.
  *
  * Tasks read it from one broadcast per scan or job, never from their own
  * payload. A `Configuration` carried in a task (about 114 KB serialized)
  * is rebuilt when the task is deserialized, and that re-parses
  * `core-default.xml` out of the Hadoop jars: 13–17 ms per task warm and
  * single-threaded, 25–62 ms with four tasks at once. A broadcast is
  * fetched once per executor JVM; in local mode every task reads the
  * driver's own object. Spark's file sources ship their configuration the
  * same way.
  *
  * Driver-side filesystem calls (listing, commit, abort) use [[driver]].
  */
object HadoopConf {

  /** The active session's Hadoop configuration, Hadoop's defaults when no
    * session is active. A bare `new Configuration()` under a session would
    * ignore its fs settings and break any configured filesystem.
    */
  def driver(): Configuration =
    SparkSession.getActiveSession.map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** One broadcast of `spark`'s Hadoop configuration, for the tasks of a
    * scan. Its handle serializes to a few hundred bytes.
    */
  def broadcast(spark: SparkSession = SparkSession.active): Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(new SerializableConfiguration(spark.sessionState.newHadoopConf()))

  /** `job` run with its own [[broadcast]], destroyed once `job` returns or
    * throws: for the jobs a writer launches and waits for.
    */
  def withBroadcast[T](spark: SparkSession)(job: Broadcast[SerializableConfiguration] => T): T = {
    val conf = broadcast(spark)
    try job(conf) finally conf.destroy()
  }
}
