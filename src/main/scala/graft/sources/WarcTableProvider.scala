package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Read-only DataSource V2 over WARC files — the SQL surface of
  * [[Warc.readFiles]]: `spark.read.format("warc").load(path)` where `path`
  * is one file or a directory of `*.warc` / `*.warc.gz` (concatenated-gzip
  * members chain-decoded with exact fault accounting, [[GzipChainStream]]).
  *
  * Scale shape: one [[InputPartition]] per FILE (a WARC member is not
  * splittable — payload bytes are arbitrary), records streamed off the
  * open stream, never a whole file in memory — the Common Crawl layout
  * (thousands of ~1 GB files) saturates a cluster on file parallelism.
  * Column pruning is pushed into the reader: when `payload` isn't
  * projected, payload octets are consumed but never buffered, so
  * URL/metadata scans touch headers only.
  *
  * Fault contract (`onfault` option): `fail` (default) aborts the query
  * with file/offset/reason — corruption in an ingest is a fact to
  * surface, not smooth over; `skip` keeps each file's records up to its
  * fault and moves on — the explicit opt-in for salvage reads. For
  * per-row quarantine accounting (which file, how many records, why),
  * use [[Warc.readFiles]] — a scan has one output schema and cannot
  * return the quarantine side-channel.
  */
class WarcTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "warc"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WarcTableProvider.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val path = Option(opts.get("path")).getOrElse(
      throw new IllegalArgumentException("warc: 'path' option is required"))
    val onFault = Option(opts.get("onfault")).getOrElse("fail")
    require(onFault == "fail" || onFault == "skip",
      s"warc: onfault must be 'fail' or 'skip', got '$onFault'")
    new WarcTable(path, onFault)
  }
}

object WarcTableProvider {

  /** Fixed record schema — WARC's grammar is closed, nothing to infer.
    * `file` is the source path (names join back without a side map).
    */
  val schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("record_idx", IntegerType, nullable = false),
    StructField("warc_type", StringType, nullable = false),
    StructField("target_uri", StringType, nullable = false),
    StructField("warc_date", StringType, nullable = false),
    StructField("content_length", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  private[sources] def listFiles(path: String, conf: Configuration): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (st.isDirectory)
      fs.listStatus(p).toSeq
        .filter(s => s.isFile &&
          (s.getPath.getName.endsWith(".warc") || s.getPath.getName.endsWith(".warc.gz")))
        .map(_.getPath.toString).sorted
    else Seq(p.toString)
  }
}

private[sources] class WarcTable(path: String, onFault: String)
    extends Table with SupportsRead {
  override def name(): String = s"warc:$path"
  override def schema(): StructType = WarcTableProvider.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WarcScanBuilder(path, onFault)
}

private[sources] class WarcScanBuilder(path: String, onFault: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = WarcTableProvider.schema
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new WarcScan(path, required, onFault)
}

private[sources] case class WarcInputPartition(file: String) extends InputPartition

private[sources] class WarcScan(path: String, required: StructType, onFault: String)
    extends Scan with Batch {
  // The readers' configuration: one broadcast per scan, made when Spark
  // first asks for a reader factory, so AQE re-planning this scan reuses it.
  private lazy val taskConf = HadoopConf.broadcast()
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    val files = WarcTableProvider.listFiles(path, HadoopConf.driver())
    if (files.isEmpty)
      throw new java.io.FileNotFoundException(s"warc: no input files at $path")
    files.map(WarcInputPartition.apply).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new WarcReaderFactory(required, onFault, taskConf)
}

private[sources] class WarcReaderFactory(
    required: StructType, onFault: String,
    val conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new WarcPartitionReader(partition.asInstanceOf[WarcInputPartition].file,
      required, onFault, conf.value.value)
}

private[sources] class WarcPartitionReader(
    file: String, required: StructType, onFault: String, conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val keepPayload = required.fieldNames.contains("payload")
  private val fileUtf8 = UTF8String.fromString(file)

  private val in: java.io.InputStream = {
    val p = new Path(file)
    val raw = p.getFileSystem(conf).open(p)
    if (file.endsWith(".gz")) new GzipChainStream(raw) else raw
  }
  private val records = Warc.parseStream(in, fileId = 0L, keepPayload = keepPayload)

  // one extractor per projected field — unprojected fields cost nothing
  private val extract: Array[Warc.WarcRecord => Any] = required.fieldNames.map {
    case "file"           => (_: Warc.WarcRecord) => fileUtf8
    case "record_idx"     => (r: Warc.WarcRecord) => r.record_idx
    case "warc_type"      => (r: Warc.WarcRecord) => UTF8String.fromString(r.warc_type)
    case "target_uri"     => (r: Warc.WarcRecord) => UTF8String.fromString(r.target_uri)
    case "warc_date"      => (r: Warc.WarcRecord) => UTF8String.fromString(r.warc_date)
    case "content_length" => (r: Warc.WarcRecord) => r.content_length
    case "payload"        => (r: Warc.WarcRecord) => r.payload
    case other => throw new IllegalArgumentException(s"warc: unknown column '$other'")
  }

  private var current: Warc.WarcRecord = _

  override def next(): Boolean = {
    if (!records.hasNext) return false
    records.next() match {
      case Right(r) => current = r; true
      case Left(q) =>
        if (onFault == "fail")
          throw new java.io.IOException(
            s"warc: $file corrupt at byte ${q.byte_offset} after ${q.records_ok} " +
              s"records: ${q.reason} (use option onfault=skip to salvage)")
        false // skip: keep this file's records up to the fault, stop here
    }
  }

  override def get(): InternalRow = {
    val vals = new Array[Any](extract.length)
    var i = 0
    while (i < extract.length) { vals(i) = extract(i)(current); i += 1 }
    new GenericInternalRow(vals)
  }

  override def close(): Unit = in.close()
}
