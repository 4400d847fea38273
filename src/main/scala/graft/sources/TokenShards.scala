package graft.sources

import java.io.{DataInputStream, DataOutputStream, EOFException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The trainer-facing binary sink: packed token sequences written as one
  * flat binary file per shard — the "last mile" of a pretraining pipeline,
  * where curated/tokenized/packed data leaves the relational world for the
  * training loader's mmap-style consumption.
  *
  * File format (big-endian, self-describing, corruption-evident):
  * {{{
  *   magic  "GTOK" (4 bytes)   version u16 = 1   key_len u16, key UTF-8
  *   per sequence: len u32, then len × u32 token ids
  *   trailer: len sentinel 0xFFFFFFFF, n_sequences u64, n_tokens u64,
  *            crc32 u64 (CRC32 over every length+token word written)
  * }}}
  * The trailer counts and checksum make truncation and bit-rot detectable
  * at read time without a sidecar; the in-file shard key makes each file
  * self-identifying (names are only a convenience).
  *
  * Scale shape (the [[Warc.writeShards]] discipline): one shuffle to
  * co-locate each shard's rows (`repartition(shardKey)` +
  * `sortWithinPartitions` pins the in-file order), executor-side encode —
  * shard count is the parallelism knob — temp-file + rename commit so a
  * task dying mid-encode never leaves a truncated shard visible, and a
  * driver state of exactly one (path, counts) row per shard.
  */
object TokenShards {

  private val Magic = 0x47544f4b // "GTOK"
  private val Version = 1
  private val Sentinel = 0xffffffff

  /** Write one `.gtok` file per distinct `shardCol` value, sequences in
    * `orderCols` order within the shard. Returns the manifest — (shard,
    * path, n_sequences, n_tokens, crc32), one row per shard, computed
    * executor-side during the write itself.
    */
  def write(
      df: DataFrame,
      outDir: String,
      shardCol: String = "shard",
      seqCol: String = "tokens",
      orderCols: Seq[String] = Seq("chunk")): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.schema(shardCol).dataType match {
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"gtok: shardCol '$shardCol' must be string/int/long, got ${other.simpleString}")
    }
    val keys: Seq[String] = df.select(col(shardCol).cast("string"))
      .distinct().as[String].collect().toSeq
    require(!keys.contains(null),
      s"gtok: shardCol '$shardCol' contains null values — every row needs a shard key")
    val sanitized: Map[String, String] =
      keys.map(k => k -> s"shard_${k.replaceAll("[^A-Za-z0-9._-]+", "_")}").toMap
    val byName = sanitized.groupBy(_._2)
    val pathOf: Map[String, String] = sanitized.map { case (k, base) =>
      val name =
        if (byName(base).size == 1) s"$base.gtok"
        else {
          val digest = java.security.MessageDigest.getInstance("SHA-256")
            .digest(k.getBytes(UTF_8)).take(4).map("%02x".format(_)).mkString
          s"${base}_$digest.gtok"
        }
      k -> s"$outDir/$name"
    }
    require(pathOf.values.toSet.size == pathOf.size,
      "gtok: unresolvable file-name collision among shardCol keys")
    val projCols = Seq(col(shardCol).cast("string").as("__k"),
      col(seqCol).cast("array<int>").as("__seq")) ++ orderCols.map(col)
    val manifest: Array[(String, String, Long, Long, Long)] =
      HadoopConf.withBroadcast(spark) { conf =>
        df.select(projCols: _*)
          .repartition(col("__k"))
          .sortWithinPartitions(col("__k") +: orderCols.map(col): _*)
          .mapPartitions { (it: Iterator[Row]) =>
            val fsConf = conf.value.value
            val rows = it.buffered
            val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long, Long, Long)]
            while (rows.hasNext) {
              val key = rows.head.getString(0)
              val dest = new Path(pathOf(key))
              val fs = dest.getFileSystem(fsConf)
              val temp = new Path(dest.getParent, s".${dest.getName}.inprogress")
              val os = new DataOutputStream(
                new java.io.BufferedOutputStream(fs.create(temp, true), 1 << 16))
              val crc = new CRC32
              var nSeq = 0L; var nTok = 0L
              def word(v: Int): Unit = {
                os.writeInt(v)
                crc.update((v >>> 24) & 0xff); crc.update((v >>> 16) & 0xff)
                crc.update((v >>> 8) & 0xff); crc.update(v & 0xff)
              }
              try {
                os.writeInt(Magic); os.writeShort(Version)
                val kb = key.getBytes(UTF_8)
                os.writeShort(kb.length); os.write(kb)
                while (rows.hasNext && rows.head.getString(0) == key) {
                  val seq = rows.next().getSeq[Int](1)
                  word(seq.length)
                  seq.foreach(word)
                  nSeq += 1; nTok += seq.length
                }
                os.writeInt(Sentinel)
                os.writeLong(nSeq); os.writeLong(nTok); os.writeLong(crc.getValue)
              } finally os.close()
              fs.delete(dest, false)
              if (!fs.rename(temp, dest))
                throw new java.io.IOException(s"gtok: commit rename failed for $dest")
              out += ((key, pathOf(key), nSeq, nTok, crc.getValue))
            }
            out.iterator
          }.collect()
      }
    manifest.toSeq.sortBy(_._1)
      .toDF(shardCol, "path", "n_sequences", "n_tokens", "crc32")
  }

  /** Decode one `.gtok` blob. Throws on bad magic, truncation, count or
    * checksum mismatch — these are OUR files; a damaged one is an error,
    * not a quarantine case.
    */
  private[sources] def decode(bytes: Array[Byte]): (String, Iterator[(Long, Array[Int])]) = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    require(in.readInt() == Magic, "gtok: bad magic")
    val version = in.readShort()
    require(version == Version, s"gtok: unsupported version $version")
    val kb = new Array[Byte](in.readUnsignedShort()); in.readFully(kb)
    val key = new String(kb, UTF_8)
    val crc = new CRC32
    val seqs = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Int])]
    var nTok = 0L
    def word(): Int = {
      val v = in.readInt()
      crc.update((v >>> 24) & 0xff); crc.update((v >>> 16) & 0xff)
      crc.update((v >>> 8) & 0xff); crc.update(v & 0xff)
      v
    }
    val (tSeq, tTok, tCrc) = try {
      var len = in.readInt()
      while (len != Sentinel) {
        crc.update((len >>> 24) & 0xff); crc.update((len >>> 16) & 0xff)
        crc.update((len >>> 8) & 0xff); crc.update(len & 0xff)
        val seq = Array.fill(len)(word())
        seqs += ((seqs.length.toLong, seq))
        nTok += len
        len = in.readInt()
      }
      (in.readLong(), in.readLong(), in.readLong())
    } catch {
      case _: EOFException =>
        throw new IllegalStateException("gtok: truncated file (no trailer)")
    }
    require(tSeq == seqs.length.toLong && tTok == nTok,
      s"gtok: trailer counts mismatch (file says $tSeq/$tTok, read ${seqs.length}/$nTok)")
    require(tCrc == crc.getValue,
      f"gtok: checksum mismatch (file says 0x$tCrc%x, computed 0x${crc.getValue}%x)")
    (key, seqs.iterator)
  }

  /** Read every `*.gtok` under `dir` back to (shard, seq_idx, tokens):
    * one `binaryFile` task per shard file (a shard is one sequential
    * stream — file count is the read parallelism, as on the write side),
    * counts and checksum validated against the trailer.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(s"$dir/*.gtok")
      .select(col("content"))
      .as[Array[Byte]]
      .mapPartitions(_.flatMap { bytes =>
        val (key, seqs) = decode(bytes)
        seqs.map { case (i, toks) => (key, i, toks) }
      })
      .toDF("shard", "seq_idx", "tokens")
  }
}
