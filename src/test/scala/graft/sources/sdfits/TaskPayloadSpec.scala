package graft.sources.sdfits

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.write.PhysicalWriteInfo
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.sources.{Warc, WarcReaderFactory}
import SdfitsFormat.ColSpec

/** What an sdfits or warc task carries: its reader or writer factory holds a
  * broadcast handle of the session's Hadoop configuration, never the
  * configuration itself (over 100 KB serialized, rebuilt by every task that
  * carries it), so a task's payload stays small.
  */
class TaskPayloadSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val limit = 16 * 1024

  private def serializedSize(o: AnyRef): Int =
    new JavaSerializer(spark.sparkContext.getConf).newInstance().serialize(o).limit()

  private lazy val sdfitsDir: String = {
    val dir = Files.createTempDirectory("payload-sdfits").toString
    val out = new FileOutputStream(s"$dir/obs.fits")
    try SdfitsFormat.write(out, Nil, Nil, Nil, Seq(ColSpec("ROWIDX", 1, 'K'), ColSpec("DATA", 4, 'D')),
      Iterator.tabulate(3)(i => Seq[Any](i.toLong, Array.fill(4)(i * 0.5))), 3)
    finally out.close()
    dir
  }

  private lazy val warcDir: String = {
    val dir = Files.createTempDirectory("payload-warc")
    Files.write(dir.resolve("a.warc"), Warc.encodeFile(Seq(
      ("http://ex.com/a", "2026-08-13T00:00:00Z", "payload a".getBytes(UTF_8)))))
    dir.toString
  }

  /** The scan node of `df`'s executed plan, after running it. */
  private def scanOf(df: DataFrame): BatchScanExec = {
    assert(df.collect().nonEmpty)
    collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }.head
  }

  private def sdfitsScan(): BatchScanExec = scanOf(spark.read.format("sdfits").load(sdfitsDir))
  private def warcScan(): BatchScanExec = scanOf(spark.read.format("warc").load(warcDir))

  /** A DSv2 write's task factory; the write is aborted once `check` ran. */
  private def withWriterFactory[T](check: SdfitsDataWriterFactory => T): T = {
    val schema = StructType(Seq(StructField("ROWIDX", LongType, nullable = false)))
    val write = new SdfitsBatchWrite(schema, Files.createTempDirectory("payload-write").toString,
      truncate = false, "q", SdfitsWriter.Header())
    val factory = write.createBatchWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    })
    try check(factory.asInstanceOf[SdfitsDataWriterFactory])
    finally write.abort(Array.empty)
  }

  test("an sdfits scan's reader factory serializes under 16 KB") {
    val size = serializedSize(sdfitsScan().readerFactory)
    assert(size < limit, s"$size bytes")
  }

  test("a warc scan's reader factory serializes under 16 KB") {
    val size = serializedSize(warcScan().readerFactory)
    assert(size < limit, s"$size bytes")
  }

  test("the sdfits DataWriterFactory serializes under 16 KB") {
    val size = withWriterFactory(serializedSize)
    assert(size < limit, s"$size bytes")
  }

  test("tasks see the session's fs settings through one broadcast per scan") {
    val key = "spark.hadoop.graft.spec.marker"
    spark.conf.set(key, "session-value")
    try {
      val sdfits = sdfitsScan()
      val warc = warcScan()
      val confs = Seq(
        sdfits.readerFactory.asInstanceOf[SdfitsReaderFactory].conf,
        warc.readerFactory.asInstanceOf[WarcReaderFactory].conf)
      confs.foreach(c => assert(c.value.value.get(key) == "session-value"))
      withWriterFactory(f => assert(f.conf.value.value.get(key) == "session-value"))
      // a re-planned scan asks its Batch again and gets the same broadcast
      assert(sdfits.batch.createReaderFactory().asInstanceOf[SdfitsReaderFactory].conf.id == confs(0).id)
      assert(warc.batch.createReaderFactory().asInstanceOf[WarcReaderFactory].conf.id == confs(1).id)
    } finally spark.conf.unset(key)
  }
}
