package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** WARC (Web ARChive, ISO 28500) ingestion — the container format web
  * crawls actually ship in (Common Crawl et al.), i.e. the byte-level entry
  * point of a 100 TB pretraining pipeline. Everything here is hand-parsed
  * from the public record grammar: a `WARC/1.x` version line, CRLF-
  * terminated `Name: value` headers, a blank line, exactly
  * `Content-Length` payload octets, and a two-CRLF record delimiter.
  *
  * Scale shape: a WARC member is NOT line-splittable (payload bytes are
  * arbitrary), so the parallelism unit is the FILE — same as the SDFITS
  * connector. [[readFiles]] runs one task per file and STREAMS records off
  * the open Hadoop input stream (constant memory per record: header map +
  * one payload buffer); nothing ever materializes a whole file. Real
  * crawls ship many thousands of ~1 GB members, so file-level parallelism
  * saturates any cluster.
  *
  * Quarantine discipline (the [[TextIngest]] contract): a malformed record
  * aborts its FILE with a [[WarcQuarantine]] row carrying the byte offset,
  * records-parsed-so-far and a reason — records before the fault are kept,
  * bytes after it are not guessable (resync past a corrupt length field
  * would risk emitting payload bytes as fabricated records), and nothing
  * vanishes silently.
  */
object Warc {

  /** One parsed record. `payload` is the raw octets; `text` convenience
    * decoding is left to callers (payload need not be UTF-8).
    */
  final case class WarcRecord(
      file_id: Long,
      record_idx: Int,
      warc_type: String,
      target_uri: String,
      warc_date: String,
      content_length: Long,
      payload: Array[Byte])

  /** Fault row for a file whose parse aborted: how many records were
    * recovered, where in the byte stream the fault sits, and why.
    */
  final case class WarcQuarantine(
      file_id: Long,
      records_ok: Int,
      byte_offset: Long,
      reason: String)

  /** Split row (public: codegen'd encoders need reflective access). */
  final case class WarcSplit(good: Option[WarcRecord], bad: Option[WarcQuarantine])

  // ---------------------------------------------------------------- encode

  /** Append one WARC/1.0 record (CRLF headers, payload, two-CRLF
    * delimiter) to `out`. Used by the fixture builder and by tests; the
    * grammar is the same one [[parseStream]] consumes, so encode→parse is a
    * byte-exact round trip.
    */
  def encodeRecord(
      out: ByteArrayOutputStream,
      warcType: String,
      targetUri: String,
      date: String,
      payload: Array[Byte]): Unit = {
    val header =
      s"WARC/1.0\r\n" +
        s"WARC-Type: $warcType\r\n" +
        s"WARC-Target-URI: $targetUri\r\n" +
        s"WARC-Date: $date\r\n" +
        s"Content-Length: ${payload.length}\r\n" +
        "\r\n"
    out.write(header.getBytes(UTF_8))
    out.write(payload)
    out.write("\r\n\r\n".getBytes(UTF_8))
  }

  /** Encode a whole member from (uri, date, payload) triples, in order. */
  def encodeFile(records: Seq[(String, String, Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    records.foreach { case (uri, date, p) => encodeRecord(out, "response", uri, date, p) }
    out.toByteArray
  }

  /** Encode a member from explicit (warcType, uri, date, payload) records
    * — the WET/WAT fixture encoder: Common Crawl's derivative files are
    * ordinary WARC containers whose records are `conversion` (extracted
    * text) or `metadata` (JSON) instead of `response`, led by a
    * `warcinfo` header record. Same grammar, same parser.
    */
  def encodeFileOfTypes(records: Seq[(String, String, String, Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    records.foreach { case (t, uri, date, p) => encodeRecord(out, t, uri, date, p) }
    out.toByteArray
  }

  /** The WET text layer of a parsed record frame: `conversion` records
    * decoded as UTF-8 text; warcinfo/request/response rows drop. A pure
    * filter+projection — WET "support" is record-type discipline, not a
    * second parser.
    */
  def wetText(records: DataFrame): DataFrame =
    records.filter(col("warc_type") === "conversion")
      .select(col("file_id"), col("record_idx"), col("target_uri"),
        col("payload").cast("string").as("text"))

  /** The WAT metadata layer: `metadata` records parsed as JSON with a
    * caller-supplied schema (`from_json`, PERMISSIVE — a corrupt payload
    * surfaces as an all-null-fields struct for the caller's quarantine
    * policy, never a task failure; probe a required field to detect it).
    */
  def watMetadata(records: DataFrame,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    records.filter(col("warc_type") === "metadata")
      .select(col("file_id"), col("record_idx"), col("target_uri"),
        from_json(col("payload").cast("string"), schema).as("meta"))

  /** CDX(-J) crawl-index lines — the Common Crawl lookup layer consulted
    * BEFORE any WARC byte is fetched: `urlkey timestamp {json}` per line
    * (SURT-ordered key, 14-digit timestamp, metadata JSON with offsets
    * into the WARC files). Split on the first two single spaces; the JSON
    * parses under a CALLER schema (the [[watMetadata]] discipline —
    * unknown fields ignored, corrupt payloads yield an all-null struct
    * via PERMISSIVE `from_json`, surfacing as rows, never task failures).
    * Lines with fewer than three fields carry null json/fields.
    */
  def parseCdxj(lines: DataFrame, lineCol: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val parts = split(col(lineCol), " ", 3)
    lines
      .withColumn("urlkey", element_at(parts, 1))
      .withColumn("cdx_ts", element_at(parts, 2))
      .withColumn("fields",
        from_json(when(size(parts) === 3, element_at(parts, 3)), schema))
  }

  /** Gzip `bytes` as a single member (RFC 1952, no optional fields). */
  def gzipMember(bytes: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(out)
    gz.write(bytes)
    gz.close()
    out.toByteArray
  }

  /** Encode a compressed file in the Common Crawl convention: EACH record
    * is its own gzip member and the members are concatenated — so a reader
    * can skip records without decompressing the rest of the file, and a
    * corrupt record damages only itself. Parsed back by the same
    * [[parseBytesKernel]]/[[readFiles]] (gzip sniffed by magic).
    */
  def encodeFileGz(records: Seq[(String, String, Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    records.foreach { case (uri, date, p) =>
      val rec = new ByteArrayOutputStream()
      encodeRecord(rec, "response", uri, date, p)
      out.write(gzipMember(rec.toByteArray))
    }
    out.toByteArray
  }

  // ----------------------------------------------------------------- parse

  /** Streaming byte-counting reader: tracks the offset of every consumed
    * octet so quarantine rows can point at the fault.
    */
  private final class CountingStream(in: InputStream) {
    var offset: Long = 0L
    def read(): Int = { val b = in.read(); if (b >= 0) offset += 1; b }
    /** Read exactly `n` bytes or throw EOF at the short-read offset. */
    def readFully(n: Int): Array[Byte] = {
      val buf = new Array[Byte](n)
      var got = 0
      while (got < n) {
        val r = in.read(buf, got, n - got)
        if (r < 0) { offset += got; throw new EOFException() }
        got += r
      }
      offset += n
      buf
    }
    /** Consume exactly `n` bytes without materializing them (payload
      * pruning: a scan that doesn't project `payload` still has to walk
      * past it, but never allocates it).
      */
    def skipFully(n: Int): Unit = {
      var left = n
      while (left > 0) {
        val r = in.read(scratch, 0, math.min(left, scratch.length))
        if (r < 0) { offset += (n - left); throw new EOFException() }
        left -= r
      }
      offset += n
    }
    private val scratch = new Array[Byte](8192)
  }

  private final case class ParseFault(offset: Long, reason: String) extends Exception

  /** Read one CRLF-terminated header line (ISO-8859-1 bytes → String; WARC
    * headers are ASCII). Bare LF tolerated (some writers emit it); CR not
    * followed by LF is a fault; EOF mid-line is a fault unless the line is
    * empty and `eofOk`.
    */
  private def readLine(in: CountingStream, eofOk: Boolean): Option[String] = {
    val sb = new java.lang.StringBuilder(64)
    while (true) {
      val b = in.read()
      if (b < 0) {
        if (sb.length == 0 && eofOk) return None
        throw ParseFault(in.offset, "eof_in_header")
      }
      if (b == '\n') return Some(sb.toString)
      if (b != '\r') sb.append(b.toChar)
    }
    None // unreachable
  }

  /** Parse all records of one member as a lazy iterator of
    * `Right(record) | Left(quarantine)`; at most one `Left`, always last,
    * after which iteration stops. Constant memory: one header map and one
    * payload buffer live at a time. With `keepPayload = false` the payload
    * octets are consumed but never buffered (records carry an empty array
    * and the true `content_length`) — the column-pruned scan path.
    */
  def parseStream(raw: InputStream, fileId: Long, keepPayload: Boolean = true)
      : Iterator[Either[WarcQuarantine, WarcRecord]] =
    new Iterator[Either[WarcQuarantine, WarcRecord]] {
      private val in = new CountingStream(raw)
      private var idx = 0
      private var done = false
      private var nextRec: Either[WarcQuarantine, WarcRecord] = _
      private var loaded = false

      private def fault(offset: Long, reason: String): Either[WarcQuarantine, WarcRecord] = {
        done = true
        Left(WarcQuarantine(fileId, idx, offset, reason))
      }

      private def advance(): Unit = {
        loaded = true
        nextRec = null
        if (done) return
        try {
          readLine(in, eofOk = true) match {
            case None => done = true // clean EOF between records
            case Some(version) =>
              if (!version.startsWith("WARC/"))
                { nextRec = fault(in.offset, "bad_magic"); return }
              val headers = scala.collection.mutable.Map.empty[String, String]
              var line = readLine(in, eofOk = false).get
              while (line.nonEmpty) {
                val c = line.indexOf(':')
                if (c <= 0) { nextRec = fault(in.offset, "bad_header_line"); return }
                headers.put(line.substring(0, c).trim.toLowerCase,
                  line.substring(c + 1).trim)
                line = readLine(in, eofOk = false).get
              }
              val len = headers.get("content-length").map(_.toLong) match {
                case Some(n) if n >= 0 && n <= Int.MaxValue => n.toInt
                case _ => nextRec = fault(in.offset, "bad_content_length"); return
              }
              val payload =
                try {
                  if (keepPayload) in.readFully(len)
                  else { in.skipFully(len); Array.emptyByteArray }
                } catch { case _: EOFException =>
                  nextRec = fault(in.offset, "truncated_payload"); return }
              // record delimiter: two CRLF
              var d = 0
              while (d < 4) {
                val b = in.read()
                val want = if (d % 2 == 0) '\r' else '\n'
                if (b != want) { nextRec = fault(in.offset, "missing_record_delimiter"); return }
                d += 1
              }
              nextRec = Right(WarcRecord(fileId, idx,
                headers.getOrElse("warc-type", ""),
                headers.getOrElse("warc-target-uri", ""),
                headers.getOrElse("warc-date", ""),
                len.toLong, payload))
              idx += 1
          }
        } catch {
          case ParseFault(off, reason) => nextRec = fault(off, reason)
          case _: NumberFormatException => nextRec = fault(in.offset, "bad_content_length")
          // Compressed-input faults surface here from GzipChainStream (a
          // corrupt/garbage member header, deflate damage, CRC/ISIZE
          // mismatch, or a member cut mid-stream). For gzip input the
          // quarantine offset is in DECOMPRESSED coordinates — "how many
          // good payload bytes came before the fault", the recovery-
          // accounting number.
          case e: java.util.zip.ZipException =>
            nextRec = fault(in.offset, "bad_gzip")
          case _: EOFException => nextRec = fault(in.offset, "truncated_gzip")
          case _: java.io.IOException => nextRec = fault(in.offset, "io_error")
        }
      }

      override def hasNext: Boolean = { if (!loaded) advance(); nextRec != null }
      override def next(): Either[WarcQuarantine, WarcRecord] = {
        if (!hasNext) throw new NoSuchElementException
        val r = nextRec; loaded = false
        if (r.isLeft) done = true
        r
      }
    }

  // ------------------------------------------------------- batch kernels

  /** Parse WARC members carried as a binary column — the fixture/test
    * shape, and the shape a message-bus delivery (one member per blob)
    * arrives in. One pass; the two returned frames share the split plan
    * (persist it when consuming both at scale, like the multimodal split).
    */
  def parseBytesKernel(
      df: DataFrame,
      idCol: String = "file_id",
      payloadCol: String = "payload"): (Dataset[WarcRecord], Dataset[WarcQuarantine]) = {
    implicit val enc = Encoders.product[WarcSplit]
    val split = df
      .select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.flatMap { case (fileId, bytes) =>
          // gzip sniffed by magic: a plain member starts "WARC/", never 1f8b
          val raw = new ByteArrayInputStream(bytes)
          val in: java.io.InputStream =
            if (GzipChainStream.looksGzip(bytes)) new GzipChainStream(raw) else raw
          parseStream(in, fileId).map {
            case Right(r) => WarcSplit(Some(r), None)
            case Left(q)  => WarcSplit(None, Some(q))
          }
        }
      }
    (split.filter(col("good").isNotNull).select(col("good.*"))
        .as(Encoders.product[WarcRecord]),
      split.filter(col("bad").isNotNull).select(col("bad.*"))
        .as(Encoders.product[WarcQuarantine]))
  }

  /** Distributed WARC sink: one `.warc[.gz]` file per distinct `shardCol`
    * value, written in parallel — the re-sharding step of a crawl pipeline
    * (curated corpus back into the interchange format). Rows
    * hash-partition on the shard key; a within-partition sort makes each
    * shard's rows consecutive so the task cuts a new file on key change
    * and STREAMS records to the open stream (one record buffered at a
    * time; with `gzip` each record becomes its own member — the Common
    * Crawl convention [[encodeFileGz]] documents). Same durability
    * discipline as the SDFITS writer (`SdfitsWriter.writeCommitted`):
    * temp-file + rename per file, collision-proofed names (distinct raw
    * keys sharing a sanitized name get a raw-key hash suffix), null keys
    * rejected up front. Returns the manifest (shard, path, n_records)
    * from one slim aggregation.
    */
  def writeShards(
      df: DataFrame,
      shardCol: String,
      sortCols: Seq[String],
      outDir: String,
      uriCol: String = "target_uri",
      dateCol: String = "warc_date",
      payloadCol: String = "payload",
      gzip: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.schema(shardCol).dataType match {
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"warc: shardCol '$shardCol' must be string/int/long, got ${other.simpleString}")
    }
    val counts: Map[String, Long] = df.groupBy(col(shardCol).cast("string"))
      .count().as[(String, Long)].collect().toMap
    require(!counts.contains(null),
      s"warc: shardCol '$shardCol' contains null values — every row needs a shard key")
    val ext = if (gzip) ".warc.gz" else ".warc"
    val sanitized: Map[String, String] =
      counts.keys.map(k => k -> s"shard_${k.replaceAll("[^A-Za-z0-9._-]+", "_")}").toMap
    val byName = sanitized.groupBy(_._2)
    val pathOf: Map[String, String] = sanitized.map { case (k, base) =>
      val name =
        if (byName(base).size == 1) s"$base$ext"
        else {
          val digest = java.security.MessageDigest.getInstance("SHA-256")
            .digest(k.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
          s"${base}_$digest$ext"
        }
      k -> s"$outDir/$name"
    }
    require(pathOf.values.toSet.size == pathOf.size,
      "warc: unresolvable file-name collision among shardCol keys")
    val projCols = Seq(col(shardCol).cast("string").as("__k"),
      col(uriCol).cast("string").as("__uri"),
      col(dateCol).cast("string").as("__date"),
      col(payloadCol).cast("binary").as("__p")) ++ sortCols.map(col)
    HadoopConf.withBroadcast(spark) { conf =>
      df.select(projCols: _*)
        .repartition(col("__k"))
        .sortWithinPartitions(col("__k") +: sortCols.map(col): _*)
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          val fsConf = conf.value.value
          val rows = it.buffered
          while (rows.hasNext) {
            val key = rows.head.getString(0)
            val dest = new Path(pathOf(key))
            val fs = dest.getFileSystem(fsConf)
            // temp + rename: a task dying mid-encode never leaves a
            // truncated shard visible (listings skip dot-files)
            val temp = new Path(dest.getParent, s".${dest.getName}.inprogress")
            val os = fs.create(temp, true)
            try {
              while (rows.hasNext && rows.head.getString(0) == key) {
                val r = rows.next()
                val rec = new ByteArrayOutputStream()
                encodeRecord(rec, "response", r.getString(1), r.getString(2),
                  r.getAs[Array[Byte]](3))
                os.write(if (gzip) gzipMember(rec.toByteArray) else rec.toByteArray)
              }
            } finally os.close()
            fs.delete(dest, false)
            if (!fs.rename(temp, dest))
              throw new java.io.IOException(s"warc: commit rename failed for $dest")
          }
        }
    }
    counts.toSeq.sortBy(_._1)
      .map { case (k, n) => (k, pathOf(k), n) }
      .toDF(shardCol, "path", "n_records")
  }

  /** [[parseBytesKernel]] over a frame of (path, content) blobs — the
    * shape `format("binaryFile")` delivers in BOTH batch and streaming
    * (`spark.readStream.format("binaryFile")` with the binary-file
    * schema), so this is the streaming WARC ingestion gate: stateless
    * (pure mapPartitions split), new crawl files route records to the
    * pipeline and faults to a quarantine sink as they land, under
    * whatever watermark/output-mode discipline the surrounding query
    * uses. `file_id` is `xxhash64(path)` — stable across retries; keep a
    * (xxhash64(path), path) projection of the input if names must join
    * back.
    */
  def parseFilesKernel(
      files: DataFrame,
      pathCol: String = "path",
      contentCol: String = "content"): (Dataset[WarcRecord], Dataset[WarcQuarantine]) =
    parseBytesKernel(
      files.select(xxhash64(col(pathCol)).as("file_id"), col(contentCol).as("payload")))

  /** Read every `*.warc` under `dir`: one task per file, records streamed
    * off the open HDFS/posix stream (a whole member is never buffered).
    * `file_id` is the file's index in the sorted listing; the mapping is
    * returned alongside so callers can join names back.
    *
    * The tasks read the session's Hadoop configuration from one broadcast
    * per call. The returned datasets are lazy and each runs the read again,
    * so the broadcast lives as long as they do; Spark's ContextCleaner
    * frees it once they are unreachable.
    */
  def readFiles(spark: SparkSession, dir: String)
      : (Dataset[WarcRecord], Dataset[WarcQuarantine], Map[Long, String]) = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val files = fs.listStatus(root).filter(_.isFile).map(_.getPath.toString)
      .filter(p => p.endsWith(".warc") || p.endsWith(".warc.gz")).sorted
    require(files.nonEmpty, s"warc: no input files under $dir")
    val byId = files.zipWithIndex.map { case (p, i) => (i.toLong, p) }.toMap
    implicit val enc = Encoders.product[WarcSplit]
    val conf = HadoopConf.broadcast(spark)
    val split = spark
      .createDataset(byId.toSeq.map { case (i, p) => (i, p) })(
        Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .repartition(math.min(files.length, spark.sparkContext.defaultParallelism))
      .mapPartitions { it =>
        it.flatMap { case (fileId, path) =>
          val p = new Path(path)
          val fsIn = p.getFileSystem(conf.value.value).open(p)
          val in: java.io.InputStream =
            if (path.endsWith(".gz")) new GzipChainStream(fsIn) else fsIn
          // stream is closed when the iterator drains (both end paths hit it)
          val base = parseStream(in, fileId)
          new Iterator[WarcSplit] {
            override def hasNext: Boolean = {
              val h = base.hasNext
              if (!h) in.close()
              h
            }
            override def next(): WarcSplit = base.next() match {
              case Right(r) => WarcSplit(Some(r), None)
              case Left(q)  => WarcSplit(None, Some(q))
            }
          }
        }
      }
    (split.filter(col("good").isNotNull).select(col("good.*"))
        .as(Encoders.product[WarcRecord]),
      split.filter(col("bad").isNotNull).select(col("bad.*"))
        .as(Encoders.product[WarcQuarantine]),
      byId)
  }
}
