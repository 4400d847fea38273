package graft.sources.sdfits

import java.util
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.sources.HadoopConf

import SdfitsFormat.ColSpec
import SdfitsWriter.Header

/** DataSource V2 write half of the sdfits connector:
  * `df.write.format("sdfits").mode("append"|"overwrite").save(dir)` writes
  * one FITS file PER TASK PARTITION (`part-<queryId>-<partition>.fits`;
  * the job's queryId keeps append jobs additive) — the same
  * file-is-the-parallelism-unit model as the reader, so a write with N
  * partitions encodes N observations in parallel and a directory read
  * re-parallelizes the same way.
  *
  * Commit protocol: each task encodes to `.<name>.inprogress-<task>` and
  * reports it; the driver commit renames all temp files into place (and,
  * for overwrite, first deletes the pre-existing `*.fits`), abort deletes
  * them — a failed job leaves no half-written observation visible to the
  * structural verifier.
  *
  * Column specs need fixed repeats before the header can be written, so a
  * task buffers its partition's cells first — bounded by the observation
  * (the same per-file constraint the reader's `readFully` states). Header
  * cards come from writer options: `header.<KEY>` (numeric card),
  * `sheader.<KEY>` (string card), `history.N` (HISTORY lines, in key
  * order). Primary-key ordering inside a file is the caller's partition
  * ordering (`df.repartition(...).sortWithinPartitions(...)` — FITS row
  * order is semantic, SURVEY §1.1).
  */
private[sdfits] object SdfitsWrite {

  final case class TempFile(temp: String, dest: String) extends WriterCommitMessage

  def headerFromOptions(opts: Map[String, String]): Header = {
    val hv = opts.collect { case (k, v) if k.startsWith("header.") =>
      k.stripPrefix("header.").toUpperCase -> v }.toSeq.sortBy(_._1)
    val sv = opts.collect { case (k, v) if k.startsWith("sheader.") =>
      k.stripPrefix("sheader.").toUpperCase -> v }.toSeq.sortBy(_._1)
    val hist = opts.collect { case (k, v) if k.startsWith("history.") =>
      k.stripPrefix("history.") -> v }.toSeq.sortBy(_._1.toInt).map(_._2)
    Header(hv, sv, hist)
  }
}

private[sdfits] class SdfitsWriteBuilder(
    info: LogicalWriteInfo, path: String)
    extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new SdfitsBatchWrite(info.schema(), path, doTruncate, info.queryId(),
        SdfitsWrite.headerFromOptions(
          scala.jdk.CollectionConverters.MapHasAsScala(
            info.options().asCaseSensitiveMap()).asScala.toMap))
  }
}

private[sdfits] class SdfitsBatchWrite(
    schema: StructType, path: String, truncate: Boolean, queryId: String,
    header: Header)
    extends BatchWrite {

  // Unsupported column types fail here, on the driver, before any task runs.
  private val codes = schema.fields.map(f => SdfitsWriter.codeOf(f.dataType))
  // Commit and abort run on the driver with the plain configuration; the
  // write tasks read one broadcast of it, destroyed when the job ends.
  private val conf = HadoopConf.driver()
  private var taskConf: Broadcast[SerializableConfiguration] = _

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    taskConf = HadoopConf.broadcast()
    new SdfitsDataWriterFactory(schema, codes, path, queryId, header, taskConf)
  }

  private def release(): Unit = if (taskConf != null) {
    taskConf.destroy()
    taskConf = null
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = try {
    val fs = new Path(path).getFileSystem(conf)
    fs.mkdirs(new Path(path))
    if (truncate) {
      val existing = fs.globStatus(new Path(path, "*.fits"))
      if (existing != null) existing.foreach(s => fs.delete(s.getPath, false))
    }
    messages.collect { case m: SdfitsWrite.TempFile if m.temp.nonEmpty => m }.foreach { m =>
      val dest = new Path(m.dest)
      fs.delete(dest, false) // re-run of a committed task id
      if (!fs.rename(new Path(m.temp), dest))
        throw new java.io.IOException(s"sdfits: commit rename failed for ${m.dest}")
    }
  } finally release()

  override def abort(messages: Array[WriterCommitMessage]): Unit = try {
    val fs = new Path(path).getFileSystem(conf)
    messages.collect { case m: SdfitsWrite.TempFile if m.temp.nonEmpty => m }
      .foreach(m => fs.delete(new Path(m.temp), false))
  } finally release()
}

private[sdfits] class SdfitsDataWriterFactory(
    schema: StructType, codes: Array[Char], path: String, queryId: String,
    header: Header, val conf: Broadcast[SerializableConfiguration])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new SdfitsDataWriter(schema, codes, path, queryId, header, conf.value.value, partitionId, taskId)
}

/** Buffers one partition's cells (observation-bounded), derives the fixed
  * FITS repeats, writes the temp file on commit.
  */
private[sdfits] class SdfitsDataWriter(
    schema: StructType, codes: Array[Char], path: String, queryId: String,
    header: Header, conf: Configuration, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private val fields = schema.fields
  private val rows = ArrayBuffer.empty[Seq[Any]]

  // The column types were checked against SdfitsWriter.codeOf on the
  // driver, so the match below covers every type that reaches a task.
  override def write(record: InternalRow): Unit = {
    val cells = new Array[Any](fields.length)
    var i = 0
    while (i < fields.length) {
      cells(i) = fields(i).dataType match {
        case LongType    => record.getLong(i)
        case IntegerType => record.getInt(i)
        case DoubleType  => record.getDouble(i)
        case FloatType   => record.getFloat(i)
        case StringType  => record.getUTF8String(i).toString
        case ArrayType(DoubleType, _) => record.getArray(i).toDoubleArray()
        case ArrayType(FloatType, _)  => record.getArray(i).toFloatArray()
      }
      i += 1
    }
    rows += cells.toSeq
  }

  override def commit(): WriterCommitMessage = {
    if (rows.isEmpty) return SdfitsWrite.TempFile("", "") // no file for empty partitions
    val cols = fields.toSeq.zipWithIndex.map { case (f, i) =>
      val repeat = f.dataType match {
        case StringType =>
          math.max(1, rows.iterator.map(_(i).asInstanceOf[String].length).max)
        case _: ArrayType =>
          val sizes = rows.iterator.map {
            _(i) match {
              case a: Array[Double] => a.length
              case a: Array[Float]  => a.length
            }
          }.toSeq
          SdfitsWriter.fixedRepeat(f.name, sizes.min, sizes.max)
        case _ => 1
      }
      ColSpec(f.name, repeat, codes(i))
    }
    // The job's queryId is part of the destination name so append jobs are
    // additive: two appends into the same directory write disjoint file
    // sets instead of the second clobbering the first (names derived from
    // partition ids alone collide across jobs, and commit() deletes dest
    // before rename — by design, for same-job task retries only).
    val dest = new Path(path, f"part-$queryId-$partitionId%05d.fits")
    val temp = new Path(path, f".part-$queryId-$partitionId%05d.fits.inprogress-$taskId")
    val fs = temp.getFileSystem(conf)
    val os = fs.create(temp, true)
    try SdfitsFormat.write(os, header.values, header.stringValues, header.history, cols,
      rows.iterator, rows.length)
    finally os.close()
    SdfitsWrite.TempFile(temp.toString, dest.toString)
  }

  override def abort(): Unit = ()
  override def close(): Unit = rows.clear()
}
